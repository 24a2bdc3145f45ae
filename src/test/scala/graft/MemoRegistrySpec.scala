package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

class MemoRegistrySpec extends AnyFunSuite {
  import SparkSuite._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("cut: local checkpoint without a checkpoint dir, same rows, lineage gone") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = spark.range(0, 50).toDF("x").filter("x % 3 = 0")
    val c = MemoRegistry.cut(df)
    assert(c.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(rows(c) == rows(df))
  }

  test("cut: reliable checkpoint under a checkpoint dir writes files") {
    val dir = Files.createTempDirectory("graft-memo-ck")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val df = spark.range(0, 50).toDF("x").filter("x % 3 = 0")
      val c = MemoRegistry.cut(df)
      assert(c.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(rows(c) == rows(df))
      val files = Files.walk(dir)
      try assert(files.filter(Files.isRegularFile(_)).count() > 0,
        "reliable mode must write checkpoint files to the configured dir")
      finally files.close()
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
    }
  }

  test("shared: one build per (session, dir, name), rebuilt after reset") {
    var builds = 0
    def stage(dir: String, name: String): Int =
      MemoRegistry.shared(spark, dir, name) { builds += 1; builds }
    assert(stage("memo-a", "x") == 1)
    assert(stage("memo-a", "x") == 1)
    assert(stage("memo-b", "x") == 2)
    assert(stage("memo-a", "y") == 3)
    assert(builds == 3)
    MemoRegistry.reset()
    assert(stage("memo-a", "x") == 4)
  }

  test("shared: a build may read another shared stage") {
    val outer = MemoRegistry.shared(spark, "memo-n", "outer") {
      MemoRegistry.shared(spark, "memo-n", "inner")(20) + 1
    }
    assert(outer == 21)
    assert(MemoRegistry.shared(spark, "memo-n", "inner")(0) == 20)
    assert(MemoRegistry.shared(spark, "memo-n", "outer")(0) == 21)
  }

  test("shared: stages of a stopped session are evicted") {
    // Stopping a session stops the JVM's one SparkContext, so the
    // probe runs in a child JVM on this suite's classpath.
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
      .filter(a => a.startsWith("--add-opens") || a.contains("=ALL-UNNAMED"))
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.MemoRegistrySpec")
    val out = scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
    assert(out.linesIterator.contains("builds=1,2"), out)
  }
}

/** Child-JVM probe for the eviction test: a stage shared in a
  * session is built once while the session lives, and built again
  * once the session has stopped. Prints `builds=<live>,<after stop>`.
  */
object MemoRegistrySpec {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.builder("local[1]", 1).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    var builds = 0
    def stage(): Int = MemoRegistry.shared(s, "memo-stop", "stage") { builds += 1; builds }
    stage()
    val live = stage()
    s.stop()
    println(s"builds=$live,${stage()}")
  }
}
