package graft

import org.scalatest.Assertions

/** Where the suites that read the reference repository's shipped bytes
  * find its snapshot: `$SPARK_GRAFT_REFERENCE`, else `reference` under the
  * user's home directory.
  *
  * [[path]] cancels the calling test, naming the root, when the snapshot
  * is not there; wherever it exists those suites run in full.
  */
object ReferenceData {
  val root: String = sys.env.getOrElse("SPARK_GRAFT_REFERENCE",
    s"${sys.props("user.home")}/reference")

  /** `rel` under the snapshot root; cancels when the root is missing. */
  def path(rel: String): String = {
    if (!new java.io.File(root).isDirectory)
      Assertions.cancel(s"reference snapshot not found at $root (set SPARK_GRAFT_REFERENCE)")
    s"$root/$rel"
  }
}
