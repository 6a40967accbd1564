package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, to_date}

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.lake.LakeTable

/** Closed-loop benchmark client: one JVM, `local[4]`, one caller that
  * issues the next call only when the last one returned. It runs one
  * workload over pre-generated inputs and writes its raw samples as
  * JSON; `perfbench/run.py` turns them into the reported metrics.
  *
  * Phases of a run: session start; warm-up passes (the first one cold,
  * all counted in set-up); a fixed number of timed passes, about
  * `--seconds` worth; untimed checks. Every pass starts from a fresh
  * warehouse or table, prepared outside the pass timing.
  */
object PerfMain {

  // -------------------------------------------------------------- keys

  /** The declared keys the benchmark runs, each with the
    * `graft.operators` object that implements it; per-layer
    * `ops.<object>_s` sums a pass's key times by object.
    */
  val queryBoard: Seq[(String, String)] = Seq(
    "q3_shipping_priority" -> "relational", "sessionize" -> "events",
    "fact_lineitem" -> "conform", "gold_funnel" -> "analytics", "dq_freshness" -> "quality",
    "corpus_filter" -> "text", "bpe_train" -> "bpe", "dedup_exact" -> "dedup",
    "ann_topk" -> "similarity", "mm_frames" -> "multimodal", "lineage" -> "lineage")

  /** Lake-writing keys `daily_pipeline` runs after the pipeline. */
  val lakeJobs: Seq[(String, String)] = Seq("lake_retention" -> "maintenance")

  // ------------------------------------------------------------ run state

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, run: String, out: String)

  final class Recorder(val spark: SparkSession) {
    var pass = 0
    var traced = false
    val spans = ArrayBuffer.empty[Span]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** A failed output check on a call that already returned. */
    def wrong(what: String): Unit = { failed += 1; errors += s"pass $pass: $what" }

    /** Times one public call. A throw counts as a failure and yields None. */
    def op[T](kind: String, name: String, group: String = "")(body: => T): Option[T] = {
      attempted += 1
      val fs0 = if (traced) CountingLocalFs.reading() else Map.empty[String, Double]
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try Right(body) catch { case NonFatal(e) => Left(e) }
      val ns = System.nanoTime() - t0
      val s1 = System.currentTimeMillis()
      val fs1 = if (traced) CountingLocalFs.reading() else Map.empty[String, Double]
      spark.catalog.clearCache()
      spans += Span(pass, kind, name, group, s0, s1, ns, r.isRight, fs0, fs1)
      r match {
        case Right(v) => Some(v)
        case Left(e) =>
          failed += 1
          errors += s"pass $pass: $kind $name threw ${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
          None
      }
    }
  }

  trait Workload {
    /** Untimed passes at the start of a run, counted in set-up. */
    def warmups: Int
    /** Typical warm pass time on a 4-core box. A run times a fixed number
      * of passes, `--seconds` / this, so every run medians the same pass
      * indices whatever the box's speed at the moment.
      */
    def nominalPassS: Double
    /** Declared keys whose first-pass outputs are checked against their oracle. */
    def keys: Seq[(String, String)] = Nil
    /** Builds the pass's fresh starting state; timed only as set-up. */
    def prepare(r: Recorder): Unit
    def pass(r: Recorder): Unit
    /** Untimed work after the timed passes; returns extra figures. */
    def finish(r: Recorder): Map[String, Double] = Map.empty
    /** Bytes under the directories the workload's tables live in. */
    def tableBytes: Long
  }

  // ------------------------------------------------------------- helpers

  def dirBytes(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  /** Bytes of `df` written once as compact parquet into `scratch`. */
  def compactBytes(df: DataFrame, scratch: String): Long = {
    deleteTree(scratch)
    df.coalesce(1).write.parquet(scratch)
    try dirBytes(scratch) finally deleteTree(scratch)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------ workloads

  /** Runs a declared key, consuming its output fully through the noop
    * sink, or with `capture` writing it for the oracle check after the run.
    */
  def runKey(r: Recorder, a: Args, key: String, obj: String, capture: Boolean = false): Unit =
    r.op("key", key, obj) {
      val df = SparkEntry.queries(key)(r.spark, a.data)
      if (capture) df.write.mode("overwrite").parquet(s"${a.run}/capture/$key") else noop(df)
    }

  /** Read-only declared keys in a fixed order: operators and Spark
    * execution, no commit path. The cold warm-up pass captures the
    * outputs.
    */
  final class Board(a: Args) extends Workload {
    val warmups = 1
    val nominalPassS = 7.0
    override def keys: Seq[(String, String)] = queryBoard
    def prepare(r: Recorder): Unit = ()
    /** Lake-writing keys keep their tables in scratch dirs under java.io.tmpdir. */
    def tableBytes: Long = dirBytes(System.getProperty("java.io.tmpdir"))
    def pass(r: Recorder): Unit = keys.foreach { case (k, o) => runKey(r, a, k, o, capture = r.pass == 0) }
  }

  /** The reference's scheduled job into a fresh warehouse: silver with
    * its quality gate, gold, then a seeded date's incremental refresh of
    * fact_events, read back; then the lake-writing declared key
    * that applies a retention cutoff to a day-partitioned table. Timed as a
    * scheduler runs it, once in a fresh JVM: no warm-up pass. The keys'
    * outputs are captured after the timed passes.
    */
  final class DailyPipeline(a: Args, spark: SparkSession) extends Workload {
    val warmups = 0
    val nominalPassS = 30.0
    override def keys: Seq[(String, String)] = lakeJobs
    private val eventsOn: Map[String, Long] = graft.Tables.events(spark, a.data)
      .groupBy(to_date(col("ts")).cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val refreshDates: Seq[String] = new Random(a.seed).shuffle(eventsOn.keys.toSeq.sorted).take(1)
    private val expected: Map[String, Long] = Map(
      "dim_customer" -> "customer", "dim_part" -> "part", "dim_supplier" -> "supplier",
      "fact_lineitem" -> "lineitem", "fact_orders" -> "orders", "fact_events" -> "events")
      .map { case (m, t) => m -> graft.Tables.load(spark, a.data, t).count() }
    private var n = 0
    def wh: String = s"${a.run}/warehouse-$n"

    def prepare(r: Recorder): Unit = { deleteTree(wh); n += 1; Files.createDirectories(Paths.get(wh)) }
    def tableBytes: Long = dirBytes(wh)

    def pass(r: Recorder): Unit = {
      r.op("silver", "runSilver", "pipeline")(Pipeline.runSilver(spark, a.data, wh)).foreach { c =>
        expected.foreach { case (m, want) =>
          if (!c.get(m).contains(want)) r.wrong(s"silver $m rows ${c.get(m)} != $want")
        }
      }
      r.op("gold", "runGold", "pipeline")(Pipeline.runGold(spark, a.data, wh)).foreach { c =>
        if (c.size != 3 || c.values.exists(_ <= 0)) r.wrong(s"gold counts $c")
      }
      val t = Pipeline.tablePath(wh, "silver", "fact_events")
      refreshDates.foreach { d =>
        r.op("commit", "refreshFactEvents", "pipeline")(Pipeline.refreshFactEvents(spark, a.data, wh, Seq(d)))
        r.op("read", "read_after_refresh", "pipeline") {
          LakeTable.read(spark, t).filter(col("event_date") === lit(d).cast("date")).count()
        }.foreach { got =>
          if (got != eventsOn.getOrElse(d, 0L)) r.wrong(s"fact_events on $d has $got rows, want ${eventsOn.get(d)}")
        }
      }
      keys.foreach { case (k, o) => runKey(r, a, k, o) }
    }

    override def finish(r: Recorder): Map[String, Double] = {
      val tables = Pipeline.silverModels.keys.map(Pipeline.tablePath(wh, "silver", _)) ++
        Pipeline.goldModels.keys.map(Pipeline.tablePath(wh, "gold", _))
      val compact = tables.map(t => compactBytes(LakeTable.read(spark, t), s"${a.run}/compact")).sum
      val lineitem = LakeTable.latestSnapshot(spark, Pipeline.tablePath(wh, "silver", "fact_lineitem")).get
      keys.foreach { case (k, o) => runKey(r, a, k, o, capture = true) }
      Map("space_amp" -> dirBytes(wh).toDouble / compact,
        "pipeline.files_written" -> parquetFiles(wh).toDouble,
        "pipeline.lineitem_partitions" ->
          lineitem.files.flatMap(_.path.split("/").find(_.startsWith("ship_date="))).distinct.size.toDouble)
    }
  }

  def parquetFiles(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.count(_.toString.endsWith(".parquet")).toLong finally walk.close()
  }

  /** A lake copy of `orders` (`copies` key-shifted copies) receiving a
    * seeded stream of single-commit DML, each followed by a range read
    * checked against an in-driver model of the live keys and values.
    */
  final class CommitStream(a: Args, spark: SparkSession) extends Workload {
    val warmups = 1
    val nominalPassS = 11.0
    private val copies = 20
    private val files = 15
    private val template = s"${a.run}/stream/template"
    private var n = 0
    private def table = s"${a.run}/stream/orders-$n"
    private val orders = graft.Tables.orders(spark, a.data)
    private val nOrders = orders.count()
    private val base: DataFrame = orders
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * nOrders)
      .drop("copy")
    private val initial: Map[Long, (Double, String)] = base
      .select("o_orderkey", "o_totalprice", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    private val maxKey = nOrders * copies

    final case class Op(kind: String, lo: Long, hi: Long, idx: Int)
    /** Every kind twice in seeded order, each op over 200-300 seeded keys;
      * every pass crosses the log's version-10 checkpoint. An op other
      * than append works inside one loaded file of its own (a seeded one),
      * clear of the file's approximate range bounds, so each op of a kind
      * costs about the same whatever the seed.
      */
    val ops: Seq[Op] = {
      val rnd = new Random(a.seed)
      var next = maxKey
      val fileKeys = maxKey / files
      val order = rnd.shuffle((0L until files).toList).iterator
      val kinds = Seq("append", "merge", "merge_mor", "delete", "delete_mor", "update")
      rnd.shuffle(kinds ++ kinds).zipWithIndex.map { case (k, i) =>
        val w = 200 + rnd.nextInt(101)
        if (k == "append") { val lo = next; next += w; Op(k, lo, lo + w - 1, i) }
        else {
          val lo = order.next() * fileKeys + fileKeys / 5 + rnd.nextInt((fileKeys * 3 / 5 - w).toInt)
          Op(k, lo, lo + w - 1, i)
        }
      }
    }
    private var model = initial

    /** The starting table, written once in `files` range-partitioned
      * files; each pass gets a fresh copy of its directory (the log
      * records table-relative paths).
      */
    LakeTable.overwrite(spark, template, base.repartitionByRange(files, col("o_orderkey")), Nil)

    def prepare(r: Recorder): Unit = {
      deleteTree(table)
      n += 1
      copyTree(template, table)
      model = initial
    }

    private def price(k: Long, i: Int): Double = (k % 997).toDouble * 1.5 + i
    private def source(o: Op): DataFrame = spark.range(o.lo, o.hi + 1).selectExpr(
      "id AS o_orderkey", "id % 600 AS o_custkey", "'M' AS o_orderstatus",
      s"CAST(id % 997 AS DOUBLE) * 1.5 + ${o.idx} AS o_totalprice",
      "TIMESTAMP_NTZ'1996-01-01 00:00:00' AS o_orderdate", "'3-MEDIUM' AS o_orderpriority")
      .withColumn("o_orderdate", col("o_orderdate").cast(base.schema("o_orderdate").dataType))
    private def range(o: Op) = col("o_orderkey").between(o.lo, o.hi)

    /** The warm-up pass runs the first op of each kind only. */
    def pass(r: Recorder): Unit = (if (r.pass <= 0) ops.distinctBy(_.kind) else ops).foreach { o =>
      r.op("snapshot", "latestSnapshot", "lake")(LakeTable.latestSnapshot(spark, table))
      val mor = o.kind.endsWith("_mor")
      val done = r.op("commit", o.kind, "lake") {
        o.kind match {
          case "append" => LakeTable.append(spark, table, source(o).withColumn("o_orderstatus", lit("N")))
          case "merge" => LakeTable.merge(spark, table, source(o), Seq("o_orderkey"))
          case "merge_mor" => LakeTable.mergeMergeOnRead(spark, table, source(o), Seq("o_orderkey"))
          case "delete" => LakeTable.delete(spark, table, range(o))
          case "delete_mor" => LakeTable.deleteMergeOnRead(spark, table, range(o))
          case "update" => LakeTable.update(spark, table,
            Seq("o_totalprice" -> (col("o_totalprice") + 1.0), "o_orderstatus" -> lit("U")), range(o))
        }
      }
      if (done.isDefined) model = o.kind match {
        case "append" => model ++ (o.lo to o.hi).map(k => k -> (price(k, o.idx), "N"))
        case "merge" | "merge_mor" => model ++ (o.lo to o.hi).map(k => k -> (price(k, o.idx), "M"))
        case "delete" | "delete_mor" => model -- (o.lo to o.hi)
        case "update" => model ++ (o.lo to o.hi).flatMap(k => model.get(k).map(v => k -> (v._1 + 1.0, "U")))
      }
      r.op("read", if (mor) "read_mor" else "read_cow", "lake") {
        LakeTable.read(spark, table).filter(range(o))
          .select("o_orderkey", "o_totalprice", "o_orderstatus").collect()
          .map(x => (x.getLong(0), (x.getDouble(1), x.getString(2)))).sortBy(_._1).toSeq
      }.foreach { got =>
        val want = (o.lo to o.hi).flatMap(k => model.get(k).map(k -> _))
        if (got != want) r.wrong(s"read after ${o.kind} [${o.lo},${o.hi}]: ${got.size} rows, want ${want.size}")
      }
    }

    def tableBytes: Long = dirBytes(table)

    override def finish(r: Recorder): Map[String, Double] = {
      val snap = LakeTable.latestSnapshot(spark, table).get
      val compact = compactBytes(LakeTable.read(spark, table), s"${a.run}/compact")
      Map("space_amp" -> dirBytes(table).toDouble / compact,
        "lake.versions" -> snap.version.toDouble,
        "lake.log_kb" -> dirBytes(s"$table/_graft_log") / 1024.0,
        "lake.live_files" -> snap.files.size.toDouble,
        "lake.dv_files" -> snap.files.count(_.dv.isDefined).toDouble)
    }
  }

  // ---------------------------------------------------------------- main

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("run"), m("out"))
  }

  /** Old-gen bytes after a full GC; the second GC runs after Spark's
    * context cleaner has released what the first one made unreachable.
    */
  def oldGenMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val b = GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", s"${a.run}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.run}/spark-warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (a.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    if (a.trace) {
      val impl = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).getClass
      require(impl == classOf[CountingLocalFs], s"file scheme resolves to $impl, not the counting FS")
    }
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val rec = new Recorder(spark)

    val i0 = System.nanoTime()
    val wl: Workload = a.workload match {
      case "query_board" => new Board(a)
      case "daily_pipeline" => new DailyPipeline(a, spark)
      case "commit_stream" => new CommitStream(a, spark)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val initS = (System.nanoTime() - i0) / 1e9

    val prepS = ArrayBuffer.empty[Double]
    def prepare(): Unit = {
      val t0 = System.nanoTime()
      wl.prepare(rec)
      prepS += (System.nanoTime() - t0) / 1e9
    }
    // warm-up, part of set-up: the cold pass 0 (on query_board it captures
    // the keys' outputs for the oracle check)
    // (traced runs compare traced with untraced passes, so both must be warm)
    var warmupS = 0.0
    (0 until (if (a.trace) math.max(1, wl.warmups) else wl.warmups)).foreach { i =>
      rec.pass = -i
      prepare()
      val w0 = System.nanoTime()
      wl.pass(rec)
      warmupS += (System.nanoTime() - w0) / 1e9
    }

    final case class Pass(idx: Int, traced: Boolean, wallS: Double, heapMb: Double,
                          writeMb: Double, startMs: Long, endMs: Long)
    val passes = ArrayBuffer.empty[Pass]
    // a fixed number of timed passes for a given --seconds
    val timedPasses = math.max(if (a.trace) 2 else 1, math.round(a.seconds / wl.nominalPassS).toInt)
    while (passes.size < timedPasses) {
      prepare()
      rec.pass = passes.size + 1
      // traced runs alternate traced and untraced passes, for the overhead
      rec.traced = a.trace && rec.pass % 2 == 1
      listener.foreach { l => l.pass = rec.pass; l.enabled = rec.traced }
      CountingLocalFs.enabled = rec.traced
      val before = wl.tableBytes
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      wl.pass(rec)
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = System.currentTimeMillis()
      listener.foreach { l => org.apache.spark.PerfbenchBus.drain(spark.sparkContext); l.enabled = false }
      CountingLocalFs.enabled = false
      passes += Pass(rec.pass, rec.traced, wall, oldGenMb(), (wl.tableBytes - before) / 1048576.0, s0, s1)
    }
    rec.traced = false
    rec.pass = passes.size + 1
    val extra = wl.finish(rec)
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"${a.run}/checks.json"), (s"""{"keys": ${
      wl.keys.map(k => Json.str(k._1)).mkString("[", ", ", "]")}, "oracle": """ +
      wl.keys.flatMap { case (k, _) => oracle.get(k).map(q => s"${Json.str(k)}: ${Json.str(q)}") }
        .mkString("{", ",\n", "}}")).getBytes(StandardCharsets.UTF_8))
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val layer = listener.map(l => Layers.perPass(rec, l, passes.filter(_.traced)
      .map(p => (p.idx, p.startMs, p.endMs, p.wallS)).toSeq)).getOrElse(Seq.empty)

    val json = new StringBuilder("{")
    json ++= s""""workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "session_s": $sessionS, "init_s": $initS,"""
    json ++= s""" "prep_s": ${prepS.mkString("[", ",", "]")}, "warmup_s": $warmupS,"""
    json ++= s""" "attempted": ${rec.attempted}, "failed": ${rec.failed},"""
    json ++= s""" "errors": ${rec.errors.take(50).map(Json.str).mkString("[", ",", "]")},"""
    json ++= s""" "extra": ${Json.obj(extra)},"""
    json ++= """ "passes": ["""
    json ++= passes.map(p => s"""{"pass": ${p.idx}, "traced": ${p.traced}, "wall_s": ${p.wallS},""" +
      s""" "heap_mb": ${p.heapMb}, "write_mb": ${p.writeMb}}""").mkString(",")
    json ++= """], "samples": ["""
    json ++= rec.spans.filter(s => s.pass >= 1 && s.pass <= passes.size)
      .map(s => s"""{"pass": ${s.pass}, "kind": ${Json.str(s.kind)}, "name": ${Json.str(s.name)},""" +
        s""" "ms": ${s.wallNs / 1e6}, "ok": ${s.ok}}""").mkString(",\n")
    json ++= """], "layer": ["""
    json ++= layer.map(Json.obj).mkString(",\n")
    json ++= "]}"
    Files.write(Paths.get(a.out), json.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
}
