package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One shared local session for the whole test run: the production
  * factory's builder plus test-only confs.
  */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // test sizing for the streaming index tables: production
      // defaults to 1024 buckets (DocStreams.DefaultIndexBuckets);
      // the shared-corpus specs use 32 so per-table directory counts
      // stay test-speed-friendly, and the saturation spec dials the
      // conf down to prove the key-pushdown level independently
      .config(graft.streaming.DocStreams.IndexBucketsConf, "32")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
