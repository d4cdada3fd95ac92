package graft

import org.apache.hadoop.fs.Path

package object lake {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.lake")

  /** Run one cleanup step of an abort or failure path. Its I/O error must
    * not mask the failure being cleaned up after, so it is not rethrown;
    * it is logged with the path and with `left`, what the failure leaves
    * behind: by default files that `removeOrphanFiles` reclaims later.
    */
  def bestEffort(what: String, path: Path,
      left: String = "left for removeOrphanFiles")(op: => Unit): Unit =
    try op
    catch {
      case e: java.io.IOException => log.warn(s"$what failed for $path; $left", e)
    }
}
