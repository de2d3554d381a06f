package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Clock, Instant, ZoneId, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._

import graft.config.{LoadMode, LoadType, TableConfig}
import graft.extract.Strategies
import graft.run.{GroupScheduler, RunRecord, TablePipeline}
import graft.sink.{Sidecars, StageWriter}
import graft.sources.{AccessTags, JdbcSource}
import graft.state.{FileWatermarkStore, WatermarkStore, WatermarkToken}

/** Times each watermark-store call: the store is an interface, so the
  * benchmark hands the pipeline this decorator. The benchmark's own checks
  * read `inner`, so the counters hold only the pipeline's calls. */
final class TimedStore(val inner: WatermarkStore) extends WatermarkStore {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally { calls.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0) }
  }
  def savePending(p: String, t: String, c: String, v: String): WatermarkToken =
    timed(inner.savePending(p, t, c, v))
  def confirm(tok: WatermarkToken): Unit = timed(inner.confirm(tok))
  def rollback(tok: WatermarkToken): Unit = timed(inner.rollback(tok))
  def lastConfirmed(p: String, t: String, c: String): Option[String] =
    timed(inner.lastConfirmed(p, t, c))
  def delete(p: String, t: String, c: String): Unit =
    timed(inner.delete(p, t, c))
}

/** One lake: raw and stage zones plus its watermark store. */
final class Lake(val root: String) {
  val store = new TimedStore(new FileWatermarkStore(s"$root/_watermarks"))
  def raw(t: String): String = s"$root/raw/$t"
  def stage(t: String): String = s"$root/stage/$t"
  def zones: Seq[Path] = Seq(Paths.get(root, "raw"), Paths.get(root, "stage"))
}

/** A query the analyst ran: its kind, the epoch whose state it saw, its
  * key range (lo = hi for a point lookup) and graft's answer. */
final case class Asked(kind: String, epoch: Int, lo: Long, hi: Long,
    answer: String, op: Int)

object Main {

  /** `smoke` runs each workload once through with one set-up pass, no
    * warm-up and one operation; the build uses it to record the classes
    * a run loads. */
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, traceDir: String, cpus: Int,
      smoke: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--work"), get("--out"), get("--trace-dir"),
      m.get("--cpus").map(_.toInt).getOrElse(
        Runtime.getRuntime.availableProcessors()),
      m.get("--smoke").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workloads = a.workload.split(",").toSeq
    require(workloads.forall(Set("bulk_reload", "trickle_merge")),
      s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val spark = graft.SparkEntry.configure(SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.StatsFilePrune.ensureInstalled(spark)
    graft.plans.ZoneMapPrune.ensureInstalled(spark)
    graft.plans.MetadataRewrite.ensureInstalled(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      // several workloads (smoke runs only) share the session and run in
      // their own work directories; the last one's result is written
      val (b, res) = workloads.map { w =>
        val b = new Bench(spark, a.copy(workload = w, work = s"${a.work}/$w"))
        (b, b.run())
      }.last
      val values = res.values + ("bench.session_s" -> sessionS)
      val json = values.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + fmt(v) }.mkString(",")
      Files.writeString(Paths.get(a.out),
        s"""{"correct":${res.correct},"attempted":${res.attempted},""" +
          s""""failed":${res.failed},"values":{$json},""" +
          s""""phases":${res.phases}}""" + "\n")
      if (a.trace) {
        Files.createDirectories(Paths.get(a.traceDir))
        Files.write(Paths.get(a.traceDir, s"${a.workload}-seed${a.seed}.jsonl"),
          (b.tracer.spanLines() ++ b.tracer.jobLines() ++ res.notes)
            .asJava)
      }
    } finally spark.stop()
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    values: Map[String, Double], notes: Seq[String], phases: String)

/** The workloads. Each run: generate inputs from the seed, repeat
  * the set-up pass, warm up, loop the workload's operation for the given
  * seconds, then check every output against a plain-Spark rebuild. */
final class Bench(spark: SparkSession, a: Main.Args) {
  import Data._

  val tracer = new Tracer(spark, a.trace)
  private val data = new Data(spark, a.seed)
  private val clock = Clock.fixed(Instant.parse("2024-06-25T12:00:00Z"),
    ZoneOffset.UTC)
  private val utc = ZoneId.of("UTC")
  private val srcRoot = s"${a.work}/src"
  private def src(t: String) = s"$srcRoot/$t"
  private val notes = mutable.ArrayBuffer.empty[String]
  private val profile = AccessTags.Profile("analyst", Map(
    "key" -> AccessTags.Open, "open" -> AccessTags.Open,
    "pii" -> AccessTags.Tokenize, "text" -> AccessTags.Redact), "bench-key")
  private val rowPolicy = "o_orderstatus <> 'P'"

  // ---- inputs --------------------------------------------------------

  private val derbyUrl = s"jdbc:derby:memory:src${a.seed};create=true"
  private val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  private def generate(): Unit = {
    if (a.workload == "bulk_reload") {
      data.customer().write.parquet(src("customer"))
      loadDerby()
    }
    data.initialOrders().write.parquet(src("orders"))
    data.initialLineitem().write.parquet(src("lineitem"))
  }

  /** Inserts the generated orders into an in-memory Derby table with an
    * index on the range-partition column, the JDBC source of the bulk
    * reload. Derby folds unquoted identifiers to upper case. */
  private def loadDerby(): Unit = {
    val ddl = OrdersSchema.fields.map { f =>
      val t = f.dataType match {
        case org.apache.spark.sql.types.StringType => "VARCHAR(64)"
        case d: org.apache.spark.sql.types.DecimalType =>
          s"DECIMAL(${d.precision},${d.scale})"
        case org.apache.spark.sql.types.DateType => "DATE"
        case org.apache.spark.sql.types.IntegerType => "INTEGER"
        case _ => "BIGINT"
      }
      s"${f.name.toUpperCase} $t NOT NULL"
    }
    val c = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      c.setAutoCommit(false)
      c.createStatement().execute(s"CREATE TABLE ORDERS (${ddl.mkString(", ")})")
      val ps = c.prepareStatement(s"INSERT INTO ORDERS VALUES (${
        ddl.map(_ => "?").mkString(", ")})")
      val gen = Gen(a.seed)
      (1L to Orders).foreach { k =>
        val r = gen.order(k, k, 0)
        (0 until r.length).foreach(i => ps.setObject(i + 1, r.get(i)))
        ps.addBatch()
        if (k % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      c.createStatement().execute(
        "CREATE INDEX ORDERS_UPD ON ORDERS(O_UPDSEQ)")
      c.commit()
    } finally c.close()
  }

  private def derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", derbyDriver)
    p.setProperty("fetchsize", "10000")
    p
  }

  // ---- pipeline calls ----------------------------------------------------

  private def cfg(t: TableSpec, incremental: Boolean): TableConfig =
    TableConfig("*", if (incremental) LoadType.Incremental else LoadType.Full,
      "", t.seqCol, 0, 0, "", "", "", "", "", "G1", "dbo", t.name,
      if (incremental) "t" else "m", t.name, "a", "1")

  private def transform(lake: Lake, t: TableSpec, c: TableConfig)
      : (Long, String) =
    tracer.span(s"transform:${t.name}", "transform") {
      TablePipeline.transformWithStatus(spark, lake.raw(t.name),
        lake.stage(t.name), c, t.meta)
    }

  private def loadParquet(lake: Lake, t: TableSpec, mode: LoadMode,
      incremental: Boolean): (Long, String) = {
    val c = cfg(t, incremental)
    tracer.span(s"extract:${t.name}", "extract") {
      TablePipeline.extract(spark, src(t.name), lake.raw(t.name), c, mode,
        clock, utc, Some(lake.store))
    }
    transform(lake, t, c)
  }

  /** Orders over JDBC: plan, min/max probe, range-partitioned pull,
    * stringify, raw landing, then the watermark, as the parquet extract
    * does it. */
  private def loadOrdersJdbc(lake: Lake, mode: LoadMode): (Long, String) = {
    val t = OrdersSpec
    val c = cfg(t, incremental = false)
    tracer.span("extract:orders:jdbc", "sources") {
      val plan = Strategies.plan(c, mode, clock, utc, Some(lake.store))
      val pc = plan.partitionColumn.get.toUpperCase
      val (lo, hi) = {
        val conn = java.sql.DriverManager.getConnection(derbyUrl)
        try {
          val rs = conn.createStatement().executeQuery(
            s"SELECT MIN($pc), MAX($pc) FROM ORDERS")
          rs.next(); (rs.getLong(1), rs.getLong(2))
        } finally conn.close()
      }
      val df = JdbcSource.partitionedReader(spark, derbyUrl, plan, "ORDERS",
        "", lo, hi, derbyProps).option("driver", derbyDriver).load()
      val lower = df.toDF(df.columns.map(_.toLowerCase).toSeq: _*)
      val obs = org.apache.spark.sql.Observation("wm")
      StageWriter.overwrite(TablePipeline.toRawZone(lower)
        .observe(obs, max(col(t.seqCol)).cast("string").as("mx")),
        lake.raw(t.name))
      obs.get.get("mx").map(_.toString).foreach { mx =>
        lake.store.confirm(
          lake.store.savePending("default", t.name, t.seqCol, mx))
      }
    }
    transform(lake, t, c)
  }

  private def group(jobs: Seq[(String, () => (Long, String))])
      : Seq[RunRecord] =
    GroupScheduler.runDetailed(jobs, maxConcurrency =
      math.max(1, math.min(a.cpus, jobs.size)))

  private def tables: Seq[TableSpec] =
    if (a.workload == "bulk_reload") Seq(CustomerSpec, OrdersSpec,
      LineitemSpec)
    else Seq(OrdersSpec, LineitemSpec)

  private def loadAll(lake: Lake, mode: LoadMode): Seq[RunRecord] =
    if (a.workload == "bulk_reload") group(Seq(
      "customer" -> (() => loadParquet(lake, CustomerSpec, mode, false)),
      "orders" -> (() => loadOrdersJdbc(lake, mode)),
      "lineitem" -> (() => loadParquet(lake, LineitemSpec, mode, false))))
    else group(Seq(
      "orders" -> (() => loadParquet(lake, OrdersSpec, mode, true)),
      "lineitem" -> (() => loadParquet(lake, LineitemSpec, mode, true))))

  // ---- measuring from outside: bytes, files, rows --------------------

  private def filesUnder(roots: Seq[Path]): Map[String, (Long, Long)] =
    roots.filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.getAttribute(p, "unix:ino")
          .asInstanceOf[Number].longValue, Files.size(p))
      }.toList
      finally s.close()
    }.toMap

  /** Bytes in files that are new or replaced (path, inode or size
    * changed) between two listings. */
  private def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._2 }.sum

  private def bytesUnder(p: String): Long =
    filesUnder(Seq(Paths.get(p))).values.map(_._2).sum

  private def dataFiles(dir: String): Map[String, (Long, Long)] =
    filesUnder(Seq(Paths.get(dir))).filter { case (p, _) =>
      val n = Paths.get(p).getFileName.toString
      n.endsWith(".parquet") && Paths.get(p).getParent.toString == dir
    }

  private def footerRows(p: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  // ---- set-up ---------------------------------------------------------

  private var lakeSeq = 0
  private def freshLake(): Lake = {
    lakeSeq += 1
    new Lake(s"${a.work}/lake$lakeSeq")
  }

  private def declare(lake: Lake): Unit = {
    tables.foreach(t => Sidecars.declare(spark, lake.stage(t.name), t.planes))
    val tags = Map(
      "o_orderkey" -> "key", "o_custkey" -> "pii", "o_orderstatus" -> "open",
      "o_status_desc" -> "open", "o_totalprice" -> "open",
      "o_orderdate" -> "open", "o_orderpriority" -> "open",
      "o_clerk" -> "pii", "o_comment" -> "text", "o_updseq" -> "open")
    AccessTags.tagColumns(lake.stage("orders"),
      tags.map { case (c, t) => c -> Set(t) })
    AccessTags.tagRows(lake.stage("orders"), Map(profile.name -> rowPolicy))
  }

  /** One set-up pass into a fresh lake: initial load of the workload's
    * tables, their planes and the governance declarations. Returns the
    * lake and whether every table loaded. */
  private def setupPass(): (Lake, Boolean) = {
    val lake = freshLake()
    val recs = loadAll(lake, LoadMode.Initial)
    declare(lake)
    (lake, recs.forall(_.status == "SUCCESS"))
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  // ---- queries ------------------------------------------------------------

  private def canon(rows: Array[Row]): String =
    rows.map(_.toString).sorted.mkString(";")

  private final class ReadStats {
    val planningMs = mutable.ArrayBuffer.empty[Double]
    val governedMs = mutable.ArrayBuffer.empty[Double]
    var filesRead = 0L
    var filesInTable = 0L
    var rowsRead = 0L
    var rowsMatched = 0L
  }
  private val reads = new ReadStats

  private def planningMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case ad: AdaptiveSparkPlanExec => leaves(ad.executedPlan)
    case qs: QueryStageExec => leaves(qs.plan)
    case other => other +: other.children.flatMap(leaves)
  }

  /** Scan counters of an executed query: files read, rows the scan
    * produced and rows its filter kept. */
  private def noteScans(df: DataFrame, table: String): Unit = if (tracing) {
    val nodes = leaves(df.queryExecution.executedPlan)
    nodes.collect { case s: FileSourceScanExec =>
      reads.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      reads.rowsRead += s.metrics.get("numOutputRows").map(_.value)
        .getOrElse(0L)
    }
    nodes.collect { case f: FilterExec =>
      reads.rowsMatched += f.metrics.get("numOutputRows").map(_.value)
        .getOrElse(0L)
    }
    reads.filesInTable += dataFiles(table).size
  }

  /** Nanoseconds spent answering queries: from building the query to its
    * collected answer, without the traced run's scan bookkeeping. */
  private var answerNs = 0L
  private def answering[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally answerNs += System.nanoTime() - t0
  }

  private def point(lake: Lake, k: Long): String =
    tracer.span("point", "plans", op = "point") {
      val (o, l, ans) = answering {
        val o = spark.read.parquet(lake.stage("orders"))
          .filter(col("o_orderkey") === k)
        val l = spark.read.parquet(lake.stage("lineitem"))
          .filter(col("l_orderkey") === k)
        (o, l, canon(o.collect()) + "/" + canon(l.collect()))
      }
      if (tracing) {
        reads.planningMs += planningMs(o) + planningMs(l)
        noteScans(o, lake.stage("orders"))
        noteScans(l, lake.stage("lineitem"))
      }
      ans
    }

  private def range(lake: Lake, lo: Long, hi: Long): String =
    tracer.span("range", "plans", op = "range") {
      val (q, ans) = answering {
        val q = spark.read.parquet(lake.stage("orders"))
          .filter(col("o_orderkey").between(lo, hi))
          .agg(count(lit(1)), sum("o_totalprice"), max("o_orderdate"))
        (q, canon(q.collect()))
      }
      if (tracing) {
        reads.planningMs += planningMs(q)
        noteScans(q, lake.stage("orders"))
      }
      ans
    }

  private def governed(lake: Lake, lo: Long, hi: Long): String =
    tracer.span("governed", "sources", op = "governed") {
      val (viewMs, q, ans) = answering {
        val t0 = System.nanoTime()
        val v = AccessTags.taggedView(spark, lake.stage("orders"), profile)
        val viewMs = (System.nanoTime() - t0) / 1e6
        val q = v.filter(col("o_orderkey").between(lo, hi))
          .agg(count(lit(1)), sum("o_totalprice"), countDistinct("o_custkey"))
        (viewMs, q, canon(q.collect()))
      }
      if (tracing) reads.governedMs += viewMs + planningMs(q)
      ans
    }

  /** Expected answers for every query asked. Every landed source version
    * of the keys asked about goes through the plain-Spark twin projection;
    * dedup-latest as of each query's epoch and the query itself are then
    * evaluated on the driver. */
  private def expectedAnswers(asked: Seq[Asked])
      : Map[(String, Int, Long, Long), String] = {
    if (asked.isEmpty) return Map.empty
    val lo = asked.map(_.lo).min
    val hi = asked.map(_.hi).max
    val points = asked.filter(_.kind == "point").map(_.lo).distinct
    def versions(t: TableSpec, key: String, keep: org.apache.spark.sql.Column)
        : Map[Long, Array[Row]] =
      spark.read.parquet(src(t.name)).filter(keep).select(t.twin: _*)
        .collect().groupBy(_.getAs[Long](key))
    val orders = versions(OrdersSpec, "o_orderkey",
      col("o_orderkey").between(lo, hi))
    val lines = versions(LineitemSpec, "l_orderkey",
      col("l_orderkey").isin(points: _*))
    def latest(vs: Iterable[Row], seqCol: String, e: Int): Option[Row] = {
      val seen = vs.filter(r => epochOf(r.getAs[Long](seqCol)) <= e)
      if (seen.isEmpty) None else Some(seen.maxBy(_.getAs[Long](seqCol)))
    }
    def orderAt(k: Long, e: Int) =
      orders.get(k).flatMap(latest(_, "o_updseq", e))
    def agg(e: Int, from: Long, to: Long, governed: Boolean): String = {
      val rows = (from to to).flatMap(orderAt(_, e)).filter(r =>
        !governed || r.getAs[String]("o_orderstatus") != "P")
      val total =
        if (rows.isEmpty) null
        else rows.map(_.getAs[java.math.BigDecimal]("o_totalprice"))
          .reduce(_ add _)
      val third: Any =
        if (governed) rows.map(_.getAs[Long]("o_custkey")).distinct.size.toLong
        else if (rows.isEmpty) null
        else rows.map(_.getAs[java.sql.Date]("o_orderdate"))
          .maxBy(_.toLocalDate.toEpochDay)
      canon(Array(Row(rows.size.toLong, total, third)))
    }
    asked.map(q => (q.kind, q.epoch, q.lo, q.hi)).distinct.map {
      case q @ ("point", e, k, _) =>
        val ls = lines.getOrElse(k, Array.empty[Row])
          .groupBy(_.getAs[Int]("l_linenumber")).values
          .flatMap(latest(_, "l_updseq", e)).toArray
        q -> (canon(orderAt(k, e).toArray) + "/" + canon(ls))
      case q @ (kind, e, from, to) => q -> agg(e, from, to, kind == "governed")
    }.toMap
  }

  /** Final stage tables against dedup-latest over every landed version. */
  private def finalTablesMatch(lake: Lake): Boolean = tables.forall { t =>
    val got = contentHash(spark.read.parquet(lake.stage(t.name)), t)
    val want = contentHash(expected(spark.read.parquet(src(t.name)), t), t)
    if (got != want) notes += s"""{"mismatch":"${t.name}","got":"$got",""" +
      s""""want":"$want"}"""
    got == want
  }

  /** The governed view must not show raw customer keys or denied columns. */
  private def governanceHolds(lake: Lake): Boolean = {
    val v = AccessTags.taggedView(spark, lake.stage("orders"), profile)
    val cols = v.columns.toSet
    !cols("o_key_ref") && !cols("o_shippriority") &&
      v.schema("o_custkey").dataType.typeName == "string" &&
      v.filter(col("o_custkey").rlike("^[0-9]+$")).limit(1).count() == 0
  }

  // ---- the run --------------------------------------------------------------

  def run(): Result = {
    val tIn = System.nanoTime()
    generate()
    val initialSrcBytes = tables.map(t => bytesUnder(src(t.name))).sum
    val gen = Gen(a.seed)
    val rowsOf = Map("customer" -> Customers, "orders" -> Orders,
      "lineitem" -> (1L to Orders).map(k => gen.lineCount(k).toLong).sum)
      .filter { case (t, _) => tables.exists(_.name == t) }
    val rowsPerLoad = rowsOf.values.sum
    val inputsS = (System.nanoTime() - tIn) / 1e9

    // set-up passes, each into a fresh lake; the last one is kept
    val passes = if (a.smoke) 1 else 2
    val setupS = mutable.ArrayBuffer.empty[Double]
    var setupOk = true
    var lake: Lake = null
    for (_ <- 1 to passes) {
      if (lake != null) deleteTree(lake.root)
      val t0 = System.nanoTime()
      val (l, ok) = setupPass()
      setupS += (System.nanoTime() - t0) / 1e9
      setupOk &&= ok
      lake = l
    }

    val w = a.workload match {
      case "bulk_reload" => new BulkReload(lake, rowsPerLoad, initialSrcBytes)
      case _ => new TrickleMerge(lake, initialSrcBytes, rowsOf)
    }
    val tWarm = System.nanoTime()
    if (!a.smoke) w.warmup()
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    lake.store.calls.set(0); lake.store.nanos.set(0)
    tracer.timing = true

    val opS = mutable.ArrayBuffer.empty[Double]
    val failedOps = mutable.Set.empty[Int]
    val tTimed = System.nanoTime()
    val deadline = tTimed + (if (a.smoke) 0L else (a.seconds * 1e9).toLong)
    var i = 0
    var stateCalls = 0L
    var stateMs = 0.0
    while (i < MinOps || System.nanoTime() < deadline) {
      i += 1
      // per-layer counters cover exactly the first MinOps operations, so
      // two traced runs of one seed count the same work
      tracer.timing = i <= MinOps
      val (ok, secs) = w.op(i)
      opS += secs
      if (!ok) failedOps += i
      if (i == MinOps) {
        stateCalls = lake.store.calls.get
        stateMs = lake.store.nanos.get / 1e6
      }
    }
    tracer.timing = false

    val timedS = (System.nanoTime() - tTimed) / 1e9
    // correctness, outside the timed loop
    val tCheck = System.nanoTime()
    val asked = w.asked.toSeq
    val want = expectedAnswers(asked)
    val badOps = asked.filter(q =>
      !want.get((q.kind, q.epoch, q.lo, q.hi)).contains(q.answer))
    badOps.take(5).foreach(q => notes +=
      s"""{"wrong_answer":"${q.kind}","epoch":${q.epoch},"lo":${q.lo},""" +
      s""""got":"${q.answer.take(200)}","want":"${want.getOrElse(
        (q.kind, q.epoch, q.lo, q.hi), "").take(200)}"}""")
    failedOps ++= badOps.map(_.op).filter(_ > 0)
    // a wrong final table is charged to the last operation, which wrote it
    val finalOk = finalTablesMatch(lake)
    if (!finalOk) failedOps += opS.size
    val govOk = governanceHolds(lake)
    val failed = failedOps.size
    val correct = setupOk && w.warmupOk && failed == 0 &&
      badOps.isEmpty && govOk
    if (!govOk) notes += """{"governance":"view exposes raw values"}"""

    val checkS = (System.nanoTime() - tCheck) / 1e9
    val storedBytes = filesUnder(lake.zones).values.map(_._2).sum
    val e2e = Map(
      "setup_s" -> median(setupS.toSeq),
      "op_s_p50" -> median(opS.toSeq),
      "load_rows_per_s" -> w.rowsLoaded / w.loadSecs,
      "write_amp" -> w.bytesWritten.toDouble / w.bytesIngested,
      "stored_bytes_per_source_byte" ->
        storedBytes.toDouble / w.sourceBytesRepresented,
      "ok_op_frac" -> (opS.size - failed).toDouble / opS.size)
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else layerMetrics(w, stateCalls, stateMs, e2e) ++ Map(
        "bench.inputs_s" -> inputsS)
    val phases = f"""{"inputs_s":$inputsS%.2f,"setup_s":[${setupS.map(x =>
      f"$x%.2f").mkString(",")}],"warmup_s":$warmupS%.2f,""" +
      f""""timed_s":$timedS%.2f,"op_s":[${opS.map(x => f"$x%.2f")
        .mkString(",")}],"check_s":$checkS%.2f}"""
    Result(correct, opS.size, failed, e2e ++ perLayer,
      (notes :+ phases).toSeq, phases)
  }

  /** Operations every run times, whatever the window; the traced run's
    * per-layer counters cover exactly these. */
  private val MinOps = if (a.smoke) 1 else 3

  /** Per-layer collection is on in a traced run's counted operations. */
  private def tracing: Boolean = a.trace && tracer.timing

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def layerMetrics(w: Workload, stateCalls: Long, stateMs: Double,
      e2e: Map[String, Double]): Map[String, Double] = {
    val mods = tracer.moduleCounters()
    val ops = tracer.opStats()
    val opWallMs = ops.map(_._2).sum.toDouble
    val perModule = mods.toSeq.flatMap { case (m, c) =>
      val busy = Tracer.unionMs(c.intervals.toSeq) / 1000.0
      Seq(s"$m.jobs" -> c.jobs.toDouble, s"$m.tasks" -> c.tasks.toDouble,
        s"$m.busy_s" -> busy, s"$m.cpu_s" -> c.cpuNs / 1e9,
        s"$m.gc_s" -> c.gcMs / 1000.0,
        s"$m.shuffle_records" -> c.shuffleRecords.toDouble,
        s"$m.shuffle_bytes" -> c.shuffleBytes.toDouble,
        s"$m.input_bytes" -> c.inputBytes.toDouble,
        s"$m.output_bytes" -> c.outputBytes.toDouble,
        s"$m.spill_bytes" -> c.spillBytes.toDouble,
        s"$m.peak_task_mem" -> c.peakTaskMem.toDouble,
        s"$m.share" -> (if (opWallMs > 0) busy * 1000 / opWallMs else 0.0))
    }
    val perKind = Tracer.OpKinds.flatMap { k =>
        val xs = ops.filter(_._1 == k)
        val n = math.max(xs.size, 1).toDouble
        Seq(s"run.jobs_per_op.$k" -> xs.map(_._3).sum / n,
          s"run.driver_only_s.$k" -> xs.map(o => o._2 - o._4).sum / n / 1000)
      }
    def frac(num: Double, den: Double) = if (den > 0) num / den else 0.0
    (perModule ++ perKind ++ Seq(
      "state.calls" -> stateCalls.toDouble,
      "state.ms" -> stateMs,
      "sink.merge.files_rewritten_frac" ->
        frac(w.filesReplaced.toDouble, w.filesBefore.toDouble),
      "sink.merge.useful_row_frac" ->
        frac(w.deltaRows.toDouble, w.rowsRewritten.toDouble),
      "sink.files_per_table" -> w.filesPerTable,
      "plans.planning_ms" -> median(reads.planningMs.toSeq),
      "plans.files_read_frac" ->
        frac(reads.filesRead.toDouble, reads.filesInTable.toDouble),
      "plans.rows_read_per_row" ->
        frac(reads.rowsRead.toDouble, reads.rowsMatched.toDouble),
      "sources.governed.planning_ms" -> median(reads.governedMs.toSeq),
      "sources.jdbc.busy_s" ->
        tracer.busyMsUnder("extract:orders:jdbc") / 1000.0,
      "traced.setup_s" -> e2e("setup_s"),
      "traced.op_s_p50" -> e2e("op_s_p50"))).toMap
  }

  // ---- workloads ------------------------------------------------------------

  private abstract class Workload(val lake: Lake) {
    val asked = mutable.ArrayBuffer.empty[Asked]
    var warmupOk = true
    var filesBefore = 0L
    var filesReplaced = 0L
    var deltaRows = 0L
    var rowsRewritten = 0L
    // totals over the timed operations: rows landed in stage, seconds
    // spent loading them, bytes written under raw + stage, source bytes
    var rowsLoaded = 0.0
    var loadSecs = 0.0
    var bytesWritten = 0L
    var bytesIngested = 0L
    private val fileCounts = mutable.ArrayBuffer.empty[Double]
    def warmup(): Unit
    /** Runs timed operation `i`: whether it succeeded, and its seconds. */
    def op(i: Int): (Boolean, Double)
    def sourceBytesRepresented: Double

    /** The read burst after each epoch; answers are checked after the
      * run. Returns the seconds spent answering. */
    def readRound(op: Int, epoch: Int, pointKey: Long, rangeLo: Long,
        govLo: Long): Double = {
      val ns0 = answerNs
      val rangeHi = rangeLo + RangeKeys - 1
      val govHi = govLo + GovernedKeys - 1
      asked += Asked("point", epoch, pointKey, pointKey,
        point(lake, pointKey), op)
      asked += Asked("range", epoch, rangeLo, rangeHi,
        range(lake, rangeLo, rangeHi), op)
      asked += Asked("governed", epoch, govLo, govHi,
        governed(lake, govLo, govHi), op)
      (answerNs - ns0) / 1e9
    }

    def noteFiles(): Unit = if (tracing) fileCounts +=
      tables.map(t => dataFiles(lake.stage(t.name)).size.toDouble).sum /
        tables.size
    def filesPerTable: Double =
      if (fileCounts.isEmpty) 0.0 else fileCounts.sum / fileCounts.size
  }

  /** Repeated RESET loads of customer + orders (JDBC) + lineitem. An
    * operation's time is the group load alone; the listings that measure
    * its writes are taken outside it. */
  private final class BulkReload(l: Lake, rowsPerLoad: Long, srcBytes: Long)
      extends Workload(l) {
    def warmup(): Unit = warmupOk &&= reload(timed = false)._1
    def op(i: Int): (Boolean, Double) = reload(timed = true)
    private def reload(timed: Boolean): (Boolean, Double) = {
      val before = filesUnder(lake.zones)
      val t0 = System.nanoTime()
      val recs = tracer.span("load", "run", op = "load") {
        loadAll(lake, LoadMode.Reset)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (timed) {
        loadSecs += secs
        rowsLoaded += rowsPerLoad
        bytesWritten += written(before, filesUnder(lake.zones))
        bytesIngested += srcBytes
      }
      noteFiles()
      (recs.forall(_.status == "SUCCESS") &&
        recs.map(_.rows).sum == rowsPerLoad, secs)
    }
    def sourceBytesRepresented: Double = srcBytes.toDouble
  }

  /** One load in set-up, then NORMAL epochs: land a delta, run the
    * incremental pipeline for orders and lineitem, read. An operation's
    * time is the epoch (delta landed → watermark confirmed) plus the time
    * spent answering the read burst; landing the delta, the listings and
    * the checks are outside it. */
  private final class TrickleMerge(l: Lake, initialSrc: Long,
      initialRows: Map[String, Long]) extends Workload(l) {
    private var epoch = 0
    private var landed = initialSrc
    private var lastWm = Map.empty[String, Long]
    private var stageRows = initialRows

    /** Lands delta `e` in the source directories; returns (rows, bytes)
      * landed and the new lineitem row count. */
    private def land(e: Int): (Long, Long, Long) = {
      val before = filesUnder(Seq(Paths.get(srcRoot)))
      val keys = data.deltaKeys(e)
      data.orders(keys).coalesce(1).write.mode("append")
        .parquet(src("orders"))
      data.lineitem(keys).coalesce(1).write.mode("append")
        .parquet(src("lineitem"))
      val tail = Orders + (e - 1).toLong * NewPerEpoch
      val gen = Gen(a.seed)
      val lineCounts = keys.map { case (k, _, _) =>
        k -> gen.lineCount(k).toLong }
      val newLines = lineCounts.collect { case (k, c) if k > tail => c }.sum
      val n = keys.size + lineCounts.map(_._2).sum
      (n, written(before, filesUnder(Seq(Paths.get(srcRoot)))), newLines)
    }

    private def cycle(i: Int, timed: Boolean): (Boolean, Double) = {
      epoch += 1
      val e = epoch
      val (n, bytes, newLines) = land(e)
      landed += bytes
      val before = filesUnder(lake.zones)
      val t0 = System.nanoTime()
      val recs = tracer.span("epoch", "run", op = "epoch") {
        group(Seq(
          "orders" -> (() => loadParquet(lake, OrdersSpec, LoadMode.Normal,
            true)),
          "lineitem" -> (() => loadParquet(lake, LineitemSpec,
            LoadMode.Normal, true))))
      }
      val epochS = (System.nanoTime() - t0) / 1e9
      val after = filesUnder(lake.zones)
      stageRows = stageRows.map {
        case ("orders", r) => "orders" -> (r + NewPerEpoch)
        case (t, r) => t -> (r + newLines)
      }
      val wmOk = Seq(OrdersSpec, LineitemSpec).forall { t =>
        val wm = lake.store.inner.lastConfirmed("default", t.name, t.seqCol)
          .map(_.toLong).getOrElse(-1L)
        val ok = wm >= lastWm.getOrElse(t.name, Long.MinValue) &&
          wm == DeltaBase + e.toLong * EpochStride + (UpdPerEpoch +
            NewPerEpoch - 1)
        lastWm += t.name -> wm
        ok
      }
      val recOk = recs.forall(r => r.status == "SUCCESS" &&
        r.rows == stageRows(r.table))
      if (timed) {
        rowsLoaded += n; loadSecs += epochS; bytesIngested += bytes
        bytesWritten += written(before, after)
        if (tracing) mergeStats(before, after, n)
      }
      val (lo, hi) = data.recentRange(e)
      val rnd = new scala.util.Random(a.seed * 1000 + e)
      val k = hi - rnd.nextInt(NewPerEpoch)
      val readS = readRound(if (timed) i else 0, e, k, hi - RangeKeys + 1,
        hi - GovernedKeys + 1)
      noteFiles()
      if (!(wmOk && recOk)) notes += s"""{"epoch":$e,"watermark_ok":$wmOk,""" +
        s""""runlog_ok":$recOk}"""
      (wmOk && recOk, epochS + readS)
    }
    /** Files replaced and rows rewritten per stage table in one epoch. */
    private def mergeStats(before: Map[String, (Long, Long)],
        after: Map[String, (Long, Long)], delta: Long): Unit = {
      deltaRows += delta
      Seq(OrdersSpec, LineitemSpec).foreach { t =>
        val dir = lake.stage(t.name)
        def data(m: Map[String, (Long, Long)]) = m.filter { case (p, _) =>
          Paths.get(p).getParent.toString == dir && p.endsWith(".parquet") }
        val b = data(before); val af = data(after)
        filesBefore += b.size
        filesReplaced += b.count { case (p, v) => !af.get(p).contains(v) }
        rowsRewritten += af.collect { case (p, v) if !b.get(p).contains(v) =>
          footerRows(p) }.sum
      }
    }

    def warmup(): Unit = warmupOk &&= cycle(0, timed = false)._1
    def op(i: Int): (Boolean, Double) = cycle(i, timed = true)
    def sourceBytesRepresented: Double = landed.toDouble
  }
}
