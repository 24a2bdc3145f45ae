package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{MemoRegistry, SparkEntry}
import graft.conf.{GraftConfig, SparkConf, TableConf}
import graft.core.GraftSession
import graft.extract.{ExtractPipeline, Introspector, PartitionPlanner, Sinks}
import graft.sources.{JdbcPartitionedSource => J, Tables}

/** JVM side of the benchmark: sets up one workload, runs closed-loop
  * passes over its ops for a fixed time, and writes a raw record of
  * what happened (setup times, passes, ops with their observed
  * outputs, spans, and in a traced run every Spark job and stage).
  * Metrics and correctness verdicts are computed from that record by
  * `perfbench/metrics.py`.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *          <data dir> <work dir> <fixture dir> <out file> [inject]
  */
object Harness {

  final case class Op(name: String, start: Double, end: Double,
                      error: Option[String], observed: Map[String, Any])

  /** Everything one run needs besides the workload itself. */
  final class Ctx(val spark: SparkSession, val t: Tracer, val data: String, val work: Path,
                  val fixtures: Path) {
    def sf(scale: String): String = s"$data/$scale"
  }

  trait Workload {
    /** Op names in canonical order; the seed permutes them per pass. */
    def ops: Seq[String]
    /** Inputs that outlive the run, built once per checkout (not timed). */
    def prepare(c: Ctx): Unit = ()
    /** Starts the workload's source system; timed with every session start. */
    def boot(c: Ctx): Unit = ()
    /** Stops what `boot` started, before the next set-up repetition. */
    def shutdown(): Unit = ()
    /** Untimed work that warms JIT and code generation before the
      * first timed pass; none by default.
      */
    def warm(c: Ctx): Unit = ()
    /** Timed passes a run makes at the least, whatever `--seconds` says;
      * run_s is the median pass.
      */
    def passes: Int = 1
    /** One timed pass over `order`; returns one Op per name. */
    def pass(c: Ctx, order: Seq[String], n: Int): Seq[Op]
    /** Output checks that read back what the pass wrote (not timed). */
    def check(c: Ctx, ops: Seq[Op], n: Int): Seq[Op] = ops
  }

  val Cores = 4
  val SetupReps = 15

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, workS, fixtures, out) = argv.take(8)
    val inject = argv.drop(8).headOption
    val work = Paths.get(workS)
    Files.createDirectories(work)
    val tracer = new Tracer(traceS == "1")
    val w: Workload = workload match {
      case "extract" => new Extract(inject)
      case "iterative" => new Queries(Membership.Iterative, "sf0.01", inject)
      case "selftest" => return SelfTest.run(work, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = ArrayBuffer.empty[(String, Any)]
    record += "env_before" -> Env.fingerprint()

    // Set-up (session start, then booting the source) is repeated so
    // its median is steady; the passes run in the last session.
    // The warm pass costs a pass or more, so it runs once.
    val sessions, boots = ArrayBuffer.empty[Double]
    var c: Ctx = null
    for (i <- 0 until SetupReps) {
      if (c != null) { w.shutdown(); c.spark.stop() }
      val s0 = tracer.nowMs
      val spark = GraftSession.builder(s"local[$Cores]", Cores)
        .appName("perfbench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
        .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      sessions += (tracer.nowMs - s0) / 1e3
      c = new Ctx(spark, tracer, data, work, Paths.get(fixtures))
      if (i == 0) w.prepare(c)
      val b0 = tracer.nowMs
      w.boot(c)
      boots += (tracer.nowMs - b0) / 1e3
    }
    val spark = c.spark
    tracer.sc = spark.sparkContext
    val w0 = tracer.nowMs
    tracer.span("warm", "setup")(w.warm(c))
    record ++= Seq("session_s" -> sessions.toSeq, "boot_s" -> boots.toSeq,
      "warm_s" -> (tracer.nowMs - w0) / 1e3)

    val recorder = new JobRecorder
    if (tracer.traced) spark.sparkContext.addSparkListener(recorder)
    val rnd = new scala.util.Random(seedS.toLong)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val run = tracer.open(s"run:$workload", "run")
    val deadline = tracer.nowMs + secondsS.toDouble * 1e3
    var n = 0
    while (n < w.passes || tracer.nowMs < deadline) {
      val order = rnd.shuffle(w.ops)
      val p = tracer.open(s"pass:$n", "pass")
      val done = try w.pass(c, order, n) finally tracer.close(p)
      w.check(c, done, n).foreach { o =>
        ops += Map("pass" -> n, "name" -> o.name, "start" -> o.start, "end" -> o.end,
          "error" -> o.error, "observed" -> o.observed)
      }
      n += 1
    }
    tracer.close(run)
    if (tracer.traced) ListenerBusAccess.drain(spark.sparkContext)
    record += "heap_mb" -> Env.liveHeapMb()
    record += "env_after" -> Env.fingerprint(spin = false)
    spark.stop()
    record ++= Seq("workload" -> workload, "seed" -> seedS.toLong, "traced" -> tracer.traced,
      "cores" -> Cores, "ops" -> ops.toSeq, "spans" -> tracer.toJson)
    if (tracer.traced) record ++= recorder.toJson
    Files.writeString(Paths.get(out), Json(record.toMap))
  }

  /** Times `body` as one op span; a throw becomes the op's error. */
  def timedOp(c: Ctx, name: String)(body: => Map[String, Any]): Op = {
    val s = c.t.open(name, "op")
    val r = try Right(body) catch { case NonFatal(e) => Left(Tracer.describe(e)) }
    c.t.close(s)
    Op(name, s.start, s.end, r.left.toOption, r.getOrElse(Map.empty))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def keySum(df: DataFrame, key: String): Long =
    df.agg(coalesce(sum(col(key).cast(LongType)), lit(0L))).collect()(0).getLong(0)

  // ---------------------------------------------------------------- queries

  /** A fixed list of SparkEntry queries. Each op builds the query,
    * plans and runs its digest aggregate, and observes (rows, digest).
    * Shared family stages are dropped before every pass, so each pass
    * pays for them once.
    */
  final class Queries(names: Seq[String], scale: String, inject: Option[String]) extends Workload {
    private val queries = SparkEntry.queries
    /** A pass takes a third of the warm-up before it, so three fit in a
      * run and their median rides out a slow moment of the host.
      */
    override def passes: Int = 3
    def ops: Seq[String] = names ++ inject.filter(_ == "throw").map(_ => Membership.InjectedOp)

    private def one(c: Ctx, dir: String, q: String): Map[String, Any] = {
      val df = c.t.layer("operators.build") {
        if (q == Membership.InjectedOp) Membership.failingQuery(c.spark) else queries(q)(c.spark, dir)
      }
      val d = Digest.frame(df)
      c.t.layer("operators.plan")(d.queryExecution.executedPlan)
      val r = c.t.layer("operators.exec")(d.collect()(0))
      Map("rows" -> r.getLong(0), "digest" -> r.getString(1))
    }

    /** One untimed pass at the measured scale: a warm pass at sf0.001
      * left the first timed passes 25-40% slower.
      */
    override def warm(c: Ctx): Unit = {
      MemoRegistry.reset()
      names.foreach(q => one(c, c.sf(scale), q))
    }

    def pass(c: Ctx, order: Seq[String], n: Int): Seq[Op] = {
      MemoRegistry.reset()
      order.map(q => timedOp(c, q)(one(c, c.sf(scale), q)))
    }
  }

  // ---------------------------------------------------------------- extract

  /** The extract side of dumpty in one pass: graft.Main.run over nine
    * parquet tables (introspect → plan → extract to json.gz → load into
    * the warehouse → reconcile, from a fresh target, warehouse and state
    * file), then dumpty's JDBC read path over five Derby tables: per
    * table, introspect in the source, pick a strategy with
    * PartitionPlanner, read in that mode and write json.gz with Sinks.
    * The seed permutes the table order of each part. There is no warm
    * pass: graft.Main is a command-line job and every run of it pays a
    * cold JVM.
    */
  final class Extract(inject: Option[String]) extends Workload {
    private val dataset = "perfbench.elt"
    private val eltOps = Membership.EltTables.map(_._1) ++
      inject.filter(_ == "throw").map(_ => Membership.MissingTable)
    /** JDBC op name → (Derby table, key). */
    private val jdbcOps = Membership.JdbcTables.map { case (t, k) => s"jdbc:$t" -> (t, k) }
    private val jdbcOp = jdbcOps.toMap
    private var url: String = _

    def ops: Seq[String] = eltOps ++ jdbcOps.map(_._1)

    private def passRoot(c: Ctx, n: Int) = c.work.resolve(s"extract-$n")
    private def warehouse(root: Path) = root.resolve("warehouse").resolve("perfbench").resolve("elt")

    def pass(c: Ctx, order: Seq[String], n: Int): Seq[Op] = {
      val root = passRoot(c, n)
      deleteTree(root)
      Files.createDirectories(root)
      val (jdbc, elt) = order.partition(jdbcOp.contains)
      eltPass(c, elt, root) ++
        jdbc.map { o =>
          val (t, key) = jdbcOp(o)
          timedOp(c, o)(extractOne(c, t, key, root.resolve("jdbc")))
        }
    }

    /** Row counts and key sums of the loaded warehouse tables, and of
      * the part glob Sinks.write returned for each JDBC table (the
      * directory would also read the schema.json sidecar), for
      * reconciling against the parquet source.
      */
    override def check(c: Ctx, ops: Seq[Op], n: Int): Seq[Op] = {
      val root = passRoot(c, n)
      val checked = ops.map {
        case o if o.error.nonEmpty => o
        case o if jdbcOp.contains(o.name) =>
          val df = c.spark.read.json(o.observed("glob").toString)
          o.copy(observed = (o.observed - "glob") ++ Map(
            "rows" -> df.count(), "key_sum" -> keySum(df, jdbcOp(o.name)._2)))
        case o =>
          val df = c.spark.read.parquet(warehouse(root).resolve(o.name).toString)
          o.copy(observed = o.observed ++ Map(
            "warehouse_rows" -> df.count(), "key_sum" -> keySum(df, Membership.EltKeys(o.name))))
      }
      deleteTree(root)
      checked
    }

    // ------------------------------------------------------------ graft.Main

    private def config(dir: String, root: Path, order: Seq[String]) = GraftConfig(
      spark = SparkConf(master = s"local[$Cores]", threads = Cores, format = "json"),
      sourceDir = Some(dir),
      tables = order.map(t => TableConf(t, Membership.EltKeys.getOrElse(t, "id"))),
      targetUri = Some(root.resolve("target").toString),
      warehouseRoot = Some(root.resolve("warehouse").toString),
      targetDataset = Some(dataset),
      targetPartitionSizeBytes = Membership.EltTargetPartitionBytes,
      defaultRowsPerPartition = Membership.EltRowsPerPartition,
      introspectWorkers = Cores, extractWorkers = Cores, loadWorkers = Cores,
      stateFile = root.resolve("state.json").toString)

    /** One graft.Main.run; an op is one table, timed from the start of
      * the run to the _SUCCESS marker of its warehouse table directory.
      */
    private def eltPass(c: Ctx, order: Seq[String], root: Path): Seq[Op] = {
      val whDir = warehouse(root)
      val done = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      @volatile var watching = true
      val watcher = new Thread(() => {
        while (watching) {
          order.foreach { t =>
            if (!done.containsKey(t) && Files.exists(whDir.resolve(t).resolve("_SUCCESS")))
              done.put(t, c.t.nowMs)
          }
          Thread.sleep(2)
        }
      })
      watcher.setDaemon(true)
      val start = c.t.nowMs
      watcher.start()
      val results = try c.t.layer("graft.Main.run")(graft.Main.run(config(c.sf("sf0.01"), root, order), c.spark))
        catch { case NonFatal(e) => order.map(t => ExtractPipeline.Result(t, Left(e))) }
      val end = c.t.nowMs
      watching = false
      watcher.join()
      val byName = results.map(r => r.name -> r.result).toMap
      order.map { t =>
        val res = byName.getOrElse(t, Left(new IllegalStateException(s"$t missing from results")))
        val stop = if (res.isRight && done.containsKey(t)) done.get(t) else end
        val error = res.left.toOption.map(Tracer.describe)
        c.t.record(t, "table", start, stop, error)
        Op(t, start, stop, error, res.map(st => Map[String, Any](
          "rows" -> st.rows.getOrElse(-1L), "rows_loaded" -> st.rowsLoaded.getOrElse(-1L),
          "julienne" -> st.predicates.nonEmpty,
          "part_files" -> partFiles(root.resolve("target").resolve(t)))).getOrElse(Map.empty))
      }
    }

    private def partFiles(dir: Path): Int =
      if (!Files.exists(dir)) 0
      else {
        val s = Files.list(dir)
        try s.filter(_.getFileName.toString.startsWith("part-")).count().toInt finally s.close()
      }

    // ------------------------------------------------------------------ jdbc

    private def sqlType(t: DataType): (String, Int) = t match {
      case LongType => ("BIGINT", java.sql.Types.BIGINT)
      case IntegerType => ("INTEGER", java.sql.Types.INTEGER)
      case DoubleType => ("DOUBLE", java.sql.Types.DOUBLE)
      case StringType => ("VARCHAR(32672)", java.sql.Types.VARCHAR)
      case TimestampType => ("TIMESTAMP", java.sql.Types.TIMESTAMP)
      case other => throw new IllegalArgumentException(s"no Derby type for $other")
    }

    /** The Derby source database is the source system, not graft's
      * work, so it is built once per checkout, like the classes: loaded
      * from the sf0.01 parquet tables over plain JDBC with unquoted DDL,
      * so predicates like `l_orderkey > 5` resolve as they would against
      * a DBA-managed schema.
      */
    override def prepare(c: Ctx): Unit = {
      val db = c.fixtures.resolve("derby-sf0.01")
      url = s"jdbc:derby:$db"
      if (!Files.exists(db)) {
        val tmp = c.fixtures.resolve(s"derby-tmp-${ProcessHandle.current.pid}")
        deleteTree(tmp)
        Files.createDirectories(c.fixtures)
        create(c, s"jdbc:derby:$tmp;create=true")
        stop(s"jdbc:derby:$tmp")
        try Files.move(tmp, db) catch { case _: java.nio.file.FileAlreadyExistsException => deleteTree(tmp) }
      }
    }

    override def boot(c: Ctx): Unit = DriverManager.getConnection(url).close()
    override def shutdown(): Unit = stop(url)

    private def stop(db: String): Unit =
      try DriverManager.getConnection(s"$db;shutdown=true")
      catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing

    private def create(c: Ctx, create: String): Unit = {
      val conn = DriverManager.getConnection(create)
      conn.setAutoCommit(false)
      try Membership.JdbcTables.foreach { case (t, _) =>
        val df = Tables(c.spark, c.sf("sf0.01"), t)
        val types = df.schema.fields.map(f => sqlType(f.dataType))
        val cols = df.schema.fields.zip(types).map { case (f, (ddl, _)) => s"${f.name} $ddl" }
        conn.createStatement().execute(s"CREATE TABLE $t (${cols.mkString(", ")})")
        val ps = conn.prepareStatement(
          s"INSERT INTO $t VALUES (${types.map(_ => "?").mkString(",")})")
        df.collect().grouped(5000).foreach { batch =>
          batch.foreach { r =>
            types.indices.foreach { i =>
              if (r.isNullAt(i)) ps.setNull(i + 1, types(i)._2)
              else ps.setObject(i + 1, r.get(i).asInstanceOf[AnyRef])
            }
            ps.addBatch()
          }
          ps.executeBatch()
        }
        ps.close()
        conn.commit()
      } finally conn.close()
    }

    private def extractOne(c: Ctx, t: String, key: String, out: Path): Map[String, Any] = {
      val table = J.JdbcTable(url, t)
      val st = c.t.layer("sources.introspect")(J.introspect(c.spark, table, key).collect()(0))
      val rows = st.getAs[Number]("row_cnt").longValue
      val lo = st.getAs[Number]("min_key").longValue
      val hi = st.getAs[Number]("max_key").longValue
      val rpp = Membership.JdbcRowsPerPartition
      val (strategy, mode) = c.t.layer("sources.plan") {
        val stats = c.spark.createDataFrame(Seq((t, rows, lo, hi)))
          .toDF("table_name", "row_cnt", "min_key", "max_key")
          .select(col("table_name"), col("row_cnt"),
            Introspector.denseCheck(col("row_cnt"), col("min_key"), col("max_key")).as("dense"))
        val plan = PartitionPlanner.strategy(stats, rpp).collect()(0)
        val parts = plan.getAs[Long]("partitions").toInt
        plan.getAs[String]("strategy") match {
          case "range" => ("range", J.Range(key, lo, hi, parts))
          case "julienne" =>
            val whole = J.read(c.spark, table, J.Single)
            val preds = PartitionPlanner.juliennePredicates(
                PartitionPlanner.julienneBoundariesApprox(whole, key, rpp), key)
              .orderBy(col("pred_id")).collect().map(_.getAs[String]("predicate")).toSeq
            ("julienne", J.Predicates(preds))
          case s => (s, J.Single)
        }
      }
      val layer = mode match {
        case _: J.Range => "sources.range"
        case _: J.Predicates => "sources.predicates"
        case J.Single => "sources.single"
      }
      val glob = c.t.layer(layer)(Sinks.write(J.read(c.spark, table, mode), out.toString, t, "json"))
      Map("strategy" -> strategy, "glob" -> glob, "introspected_rows" -> rows)
    }
  }
}

/** Host fingerprint recorded before and after every run. */
object Env {
  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Iterations of a fixed integer LCG loop in `ms` milliseconds: a
    * relative machine-speed constant under the same protocol.
    */
  def spin(ms: Long = 250L): Long = {
    val deadline = System.nanoTime() + ms * 1000000L
    var it = 0L
    var x = 123456789L
    while (System.nanoTime() < deadline) {
      var i = 0
      while (i < 10000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      it += 1
    }
    it ^ (x & 1L)
  }

  def fingerprint(spin: Boolean = true): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "loadavg" -> loadavg()) ++ (if (spin) Map("spin_250ms" -> Env.spin()) else Map.empty)

  /** JVM heap in use after forced full collections, in MiB. The
    * pauses let Spark's ContextCleaner drop the blocks of RDDs that the
    * previous collection freed, so the figure does not depend on when
    * the cleaner last ran.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(250) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
