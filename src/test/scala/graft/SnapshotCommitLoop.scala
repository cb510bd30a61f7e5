package graft

import graft.sources.SnapshotStore

/** The child process of [[SnapshotPublishSpec]]'s kill test: appends
  * [[Rows]] rows per commit to the partitioned table at `args(0)` until
  * it is killed, printing `committed <version>` after each commit.
  */
object SnapshotCommitLoop {
  val Rows = 4

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("local[1]", 1, "graft-commit-loop")
    import spark.implicits._
    val root = args(0)
    while (true) {
      val i = SnapshotStore.currentVersion(root).fold(0L)(_ + 1)
      val v = SnapshotStore.append(
        (0 until Rows).map(j => (i * Rows + j, i % 3)).toDF("id", "p"), root, Some("p"))
      println(s"committed $v")
      Console.flush()
    }
  }
}
