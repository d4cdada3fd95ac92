package graft.lake

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}

/** Measurement/test CAS emulating an object store's conditional put (S3
  * `If-None-Match: *` / GCS `ifGenerationMatch=0`): a JVM-global
  * putIfAbsent token map provides the create-if-absent atomicity a flat
  * store's SDK would, and an atomic move on the backing local disk
  * emulates the store's all-or-nothing PUT visibility to readers. Used
  * by `CommitCasSpec` (explicit races), the object-store variant of the
  * commit-protocol fuzz in `ConcurrencyPropertySpec`, and the
  * object-store pricing probes in [[graft.Bench]] (mocks3 commit curve /
  * contention storm), which is why it lives in main sources. Each
  * publish charges one [[MockStoreLatency]] round-trip so those probes
  * price the wire, not just the coordination.
  */
object ConditionalPutCas extends CommitCas {
  val attempts = new AtomicInteger
  val published: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // synchronized: a real store's conditional PUT makes the CAS outcome
  // and the content visible ATOMICALLY. Without the lock there is a
  // window where a loser sees "version N taken" (token map) while a
  // metadata LISTING does not yet show vN.json — its refresh re-derives
  // the same N, loses again, and can loop to retry exhaustion. The lock
  // closes the window: the winner's move lands before any loser's
  // publish call returns its failure.
  override def publish(fs: FileSystem, dest: Path,
      content: String): Unit = {
    // one conditional-PUT round-trip: charge the wire latency OUTSIDE the
    // lock (requests from different committers overlap on the network;
    // only the store-side compare-and-set is serialized)
    MockStoreLatency.charge()
    publishLocked(dest, content)
  }

  private def publishLocked(dest: Path, content: String): Unit = synchronized {
    attempts.incrementAndGet()
    if (!published.add(dest.toUri.getPath))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"conditional put failed: $dest exists")
    val nio = java.nio.file.Paths.get(dest.toUri.getPath)
    java.nio.file.Files.createDirectories(nio.getParent)
    val tmp = nio.resolveSibling(s".condput-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, nio,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
