package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One SparkSession per test JVM (Test / fork := true), built through the
  * library's supported construction path (Sessions.build: UTC,
  * nanos-as-long, pinned shuffle partitions).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.build("local[8]", 8, "graft-test")

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** This JVM's scratch root, `target/graft-scratch/run-*`, removed with
    * everything under it when the JVM exits.
    */
  private lazy val scratchRun: Path = {
    val base = Paths.get("target", "graft-scratch").toAbsolutePath
    Files.createDirectories(base)
    val run = Files.createTempDirectory(base, "run-")
    sys.addShutdownHook {
      val walk = Files.walk(run)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally walk.close()
    }
    run
  }

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * back what was there before.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A fresh, empty directory (absolute path) under this JVM's scratch root. */
  def scratch(prefix: String): String =
    Files.createTempDirectory(scratchRun, prefix).toString
}
