package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.ColumnMetadata
import graft.sink.Sidecars

/** One stage table: its generated source, its pipeline column config, the
  * planes it declares, and a plain-Spark twin of its configured
  * transform used to rebuild the expected stage table. */
final case class TableSpec(name: String, keys: Seq[String], seqCol: String,
    meta: Seq[ColumnMetadata], planes: Seq[Sidecars.Plane],
    twin: Seq[Column]) {
  def stageColumns: Seq[String] = meta.sortBy(_.columnId).map(_.columnName)
}

/** TPC-H-shaped inputs at scale factor [[Data.ScaleFactor]] (customers,
  * orders, and one to seven line items per order), generated from the
  * seed alone so the same seed always gives the same files. Every row
  * carries a modification sequence (`*_updseq`): initial rows use their
  * order key, and the rows of delta epoch `e` use
  * `DeltaBase + e * EpochStride + i`, so the incremental extract's
  * watermark predicate selects exactly one delta per epoch and
  * dedup-latest keeps the newest version of a key.
  *
  * Rows are built in Spark tasks from a 64-bit mix of (seed, salt,
  * fields), so generation launches one job per table and compiles no
  * large projection. */
final class Data(spark: SparkSession, seed: Long) {
  import Data._

  private def frame(rows: org.apache.spark.rdd.RDD[Row],
      schema: StructType): DataFrame = spark.createDataFrame(rows, schema)

  private def slices(n: Long): Seq[(Long, Long)] = {
    val parts = 4
    (0 until parts).map(i => (1 + n * i / parts, n * (i + 1) / parts))
  }

  def customer(): DataFrame = {
    val sd = seed
    frame(spark.sparkContext.parallelize(slices(Customers), 4).flatMap {
      case (lo, hi) => (lo to hi).iterator.map(k => Gen(sd).customer(k))
    }, CustomerSchema)
  }

  /** Orders for (key, seq, version) triples: the customer, line count and
    * date of an order depend on its key only; status, price and comment
    * change with each version. */
  def orders(keys: Seq[(Long, Long, Int)]): DataFrame = {
    val sd = seed
    frame(spark.sparkContext.parallelize(keys, 4)
      .map { case (k, s, v) => Gen(sd).order(k, s, v) }, OrdersSchema)
  }

  def lineitem(keys: Seq[(Long, Long, Int)]): DataFrame = {
    val sd = seed
    frame(spark.sparkContext.parallelize(keys, 4)
      .flatMap { case (k, s, v) => Gen(sd).lines(k, s, v) }, LineitemSchema)
  }

  private def initial(): org.apache.spark.rdd.RDD[(Long, Long, Int)] =
    spark.sparkContext.parallelize(slices(Orders), 4).flatMap {
      case (lo, hi) => (lo to hi).iterator.map(k => (k, k, 0))
    }

  /** Every order key once, version 0, as of the initial load. */
  def initialOrders(): DataFrame = {
    val sd = seed
    frame(initial().map { case (k, s, v) => Gen(sd).order(k, s, v) },
      OrdersSchema)
  }

  def initialLineitem(): DataFrame = {
    val sd = seed
    frame(initial().flatMap { case (k, s, v) => Gen(sd).lines(k, s, v) },
      LineitemSchema)
  }

  /** Delta epoch `e` (1-based): `NewPerEpoch` keys past the tail plus
    * `UpdPerEpoch` distinct updates among the most recent `RecentKeys`
    * keys, the ERP pattern where recent orders change. */
  def deltaKeys(e: Int): Seq[(Long, Long, Int)] = {
    val tail = Orders + (e - 1).toLong * NewPerEpoch
    val off = java.lang.Math.floorMod(Gen(seed).mix(90, e), RecentKeys.toLong)
    val upd = (0 until UpdPerEpoch).map(i =>
      tail - ((i.toLong * 7919 + off) % RecentKeys))
    val fresh = (1 to NewPerEpoch).map(i => tail + i)
    (upd ++ fresh).zipWithIndex.map { case (k, i) =>
      (k, DeltaBase + e.toLong * EpochStride + i, e)
    }
  }

  /** Keys of the newest `RecentKeys` orders as of epoch `e`. */
  def recentRange(e: Int): (Long, Long) = {
    val tail = Orders + e.toLong * NewPerEpoch
    (tail - RecentKeys + 1, tail)
  }
}

/** Row generator: every field is a pure function of the seed, a salt and
  * the row's identifying fields. */
final case class Gen(seed: Long) {
  import Data._

  private def fmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(salt: Int, xs: Long*): Long =
    xs.foldLeft(fmix(seed * 31 + salt))((h, x) => fmix(h ^ x))
  private def pick(m: Long, salt: Int, xs: Long*): Long =
    java.lang.Math.floorMod(mix(salt, xs: _*), m)
  private def oneOf(vals: IndexedSeq[String], salt: Int, xs: Long*): String =
    vals(pick(vals.size.toLong, salt, xs: _*).toInt)
  private def money(lo: Long, hi: Long, salt: Int, xs: Long*) =
    java.math.BigDecimal.valueOf(pick(hi - lo, salt, xs: _*) + lo, 2)
  private def words(n: Int, salt: Int, xs: Long*): String =
    (0 until n).map(i => oneOf(Words, salt + i, xs: _*)).mkString(" ")
  private def day(d: Long) =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(Day0 + d))

  def customer(k: Long): Row = Row(k, f"Customer#$k%09d", words(3, 10, k),
    pick(25, 11, k).toInt,
    f"${pick(25, 12, k) + 10}%02d-${pick(900, 13, k) + 100}%03d-" +
      f"${pick(900, 14, k) + 100}%03d-${pick(9000, 15, k) + 1000}%04d",
    money(-99999, 999999, 16, k), oneOf(Segments, 17, k), words(6, 18, k), k)

  def order(k: Long, s: Long, v: Int): Row = Row(k,
    pick(Customers, 1, k) + 1, oneOf(Status, 2, k, v),
    money(90000, 50090000, 3, k, v), day(pick(2405, 4, k)),
    oneOf(Priorities, 5, k),
    // a tenth of the clerks carry trailing blanks the transform trims
    f"Clerk#${pick(1000, 6, k) + 1}%09d" + (if (pick(10, 7, k) == 0) "  "
      else ""),
    0, words(5, 20, k, v), s)

  def lineCount(k: Long): Int = (pick(7, 30, k) + 1).toInt

  def lines(k: Long, s: Long, v: Int): Seq[Row] =
    (1 to lineCount(k)).map { ln =>
      val ship = pick(2405, 4, k) + pick(121, 31, k, ln) + 1
      Row(k, ln, pick(20000, 32, k, ln) + 1, pick(1000, 33, k, ln) + 1,
        money(100, 5100, 34, k, ln, v), money(90000, 10490000, 35, k, ln, v),
        money(0, 11, 36, k, ln, v), money(0, 9, 37, k, ln, v),
        oneOf(Flags, 38, k, ln, v), oneOf(LineStatus, 39, k, ln, v),
        day(ship), day(ship + pick(60, 40, k, ln) - 30),
        day(ship + pick(30, 41, k, ln) + 1), oneOf(Instructs, 42, k, ln),
        oneOf(Modes, 43, k, ln), words(4, 44, k, ln, v), s)
    }
}

object Data {
  /** TPC-H scale factor of the generated tables. */
  val ScaleFactor = 0.02
  val Customers: Long = (150000 * ScaleFactor).toLong
  val Orders: Long = (1500000 * ScaleFactor).toLong
  /** Each epoch lands 0.5% of the orders: half new keys past the tail,
    * half updates among the newest 2% of keys. */
  val NewPerEpoch: Int = (Orders / 400).toInt
  val UpdPerEpoch: Int = (Orders / 400).toInt
  val RecentKeys: Int = (Orders / 50).toInt
  /** Key widths of the analyst's range query and governed aggregate. */
  val RangeKeys: Int = (Orders / 100).toInt
  val GovernedKeys: Int = (Orders / 10).toInt
  val DeltaBase = 1000000000L
  val EpochStride = 1000000L

  private val Money = DecimalType(12, 2)
  private def schema(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = false) })
  val CustomerSchema: StructType = schema("c_custkey" -> LongType,
    "c_name" -> StringType, "c_address" -> StringType,
    "c_nationkey" -> IntegerType, "c_phone" -> StringType,
    "c_acctbal" -> Money, "c_mktsegment" -> StringType,
    "c_comment" -> StringType, "c_updseq" -> LongType)
  val OrdersSchema: StructType = schema("o_orderkey" -> LongType,
    "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> Money, "o_orderdate" -> DateType,
    "o_orderpriority" -> StringType, "o_clerk" -> StringType,
    "o_shippriority" -> IntegerType, "o_comment" -> StringType,
    "o_updseq" -> LongType)
  val LineitemSchema: StructType = schema("l_orderkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_quantity" -> Money,
    "l_extendedprice" -> Money, "l_discount" -> Money, "l_tax" -> Money,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> DateType, "l_commitdate" -> DateType,
    "l_receiptdate" -> DateType, "l_shipinstruct" -> StringType,
    "l_shipmode" -> StringType, "l_comment" -> StringType,
    "l_updseq" -> LongType)

  /** The epoch a modification sequence belongs to (0 = initial load). */
  def epochOf(seq: Long): Long =
    if (seq < DeltaBase) 0L else (seq - DeltaBase) / EpochStride

  /** 1992-01-01, the first order date, as an epoch day. */
  val Day0: Long = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  val Words: IndexedSeq[String] = IndexedSeq("furiously", "carefully", "quickly", "blithely",
    "slyly", "ironic", "final", "pending", "regular", "express", "bold",
    "special", "deposits", "requests", "accounts", "packages", "theodolites",
    "pinto", "beans", "foxes", "instructions", "dependencies", "excuses",
    "platelets", "asymptotes", "courts", "dolphins", "sleep", "wake", "haggle",
    "nag", "use", "boost", "affix", "detect", "integrate", "cajole", "about")
  val Status: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val Flags: IndexedSeq[String] = IndexedSeq("R", "A", "N")
  val LineStatus: IndexedSeq[String] = IndexedSeq("O", "F")
  val Segments: IndexedSeq[String] = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  val Priorities: IndexedSeq[String] = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val Instructs: IndexedSeq[String] = IndexedSeq("DELIVER IN PERSON", "COLLECT COD", "NONE",
    "TAKE BACK RETURN")
  val Modes: IndexedSeq[String] = IndexedSeq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL",
    "FOB")

  private def m(name: String, id: Int, tpe: String, tr: String,
      isId: Boolean = false, isSeq: Boolean = false, table: String)
      : ColumnMetadata =
    ColumnMetadata(name, id, isSeq, isId, false, false, tpe, table, tr)

  private def clear(c: String) = s"fn_transform_ClearString($c)"
  private def dateOf(c: String) = s"fn_transform_Date($c, yyyy-MM-dd)"
  private def dec(c: String) = s"fn_transform_Numeric($c)"

  /** Column config as (name, type, DSL transformation, is id, is recency)
    * plus the plain-Spark expression over the typed source that the
    * transformation must equal. */
  private def spec(table: String, keys: Seq[String], seqCol: String,
      planes: Seq[Sidecars.Plane],
      cols: Seq[(String, String, String, Column)]): TableSpec = {
    val meta = cols.zipWithIndex.map { case ((n, t, tr, _), i) =>
      m(n, i + 1, t, tr, keys.contains(n), n == seqCol, table)
    }
    val twin = cols.map { case (n, t, _, c) =>
      c.cast(graft.config.SparkTypes.fromConfig(t)).as(n)
    }
    TableSpec(table, keys, seqCol, meta, planes, twin)
  }

  private def caseOf(c: String, rules: (String, String)*): (String, Column) = {
    val dsl = s"fn_transform_Case($c, " +
      rules.map { case (v, l) => s"'$v->$l'" }.mkString(", ") + ")"
    val t = trim(col(c))
    (dsl, rules.foldLeft(t) { case (acc, (v, l)) =>
      when(t === v, lit(l)).otherwise(acc) })
  }

  val CustomerSpec: TableSpec = spec("customer", Seq("c_custkey"),
    "c_updseq", Seq(Sidecars.Stats("c_custkey"), Sidecars.Counts), Seq(
      ("c_custkey", "bigint", "", col("c_custkey")),
      ("c_name", "string", clear("c_name"), trim(col("c_name"))),
      ("c_address", "string", clear("c_address"), trim(col("c_address"))),
      ("c_nationkey", "int", "fn_transform_Integer(c_nationkey)",
        col("c_nationkey")),
      ("c_phone", "string", clear("c_phone"), trim(col("c_phone"))),
      ("c_acctbal", "numeric(12,2)", dec("c_acctbal"), col("c_acctbal")),
      ("c_mktsegment", "string", clear("c_mktsegment"),
        trim(col("c_mktsegment"))),
      ("c_comment", "string", clear("c_comment"), trim(col("c_comment"))),
      ("c_updseq", "bigint", "", col("c_updseq"))))

  val OrdersSpec: TableSpec = {
    val (statusDsl, statusTwin) = caseOf("o_orderstatus", "F" -> "filled",
      "O" -> "open", "P" -> "partial")
    spec("orders", Seq("o_orderkey"), "o_updseq", Seq(
      Sidecars.Stats("o_orderkey"),
      Sidecars.Zone(Seq("o_orderkey", "o_custkey")),
      Sidecars.Bloom("o_orderkey"), Sidecars.Counts), Seq(
      ("o_orderkey", "bigint", "", col("o_orderkey")),
      ("o_custkey", "bigint", "", col("o_custkey")),
      ("o_orderstatus", "string", clear("o_orderstatus"),
        trim(col("o_orderstatus"))),
      ("o_status_desc", "string", statusDsl, statusTwin),
      ("o_totalprice", "numeric(12,2)", dec("o_totalprice"),
        col("o_totalprice")),
      ("o_orderdate", "date", dateOf("o_orderdate"), col("o_orderdate")),
      ("o_orderpriority", "string", clear("o_orderpriority"),
        trim(col("o_orderpriority"))),
      ("o_clerk", "string", clear("o_clerk"), trim(col("o_clerk"))),
      ("o_shippriority", "int", "fn_transform_Integer(o_shippriority)",
        col("o_shippriority")),
      ("o_comment", "string", clear("o_comment"), trim(col("o_comment"))),
      ("o_key_ref", "string",
        "fn_transform_Concatenate(o_orderkey, o_custkey)",
        concat_ws("|", col("o_orderkey").cast("string"),
          col("o_custkey").cast("string"))),
      ("o_updseq", "bigint", "", col("o_updseq"))))
  }

  val LineitemSpec: TableSpec = {
    val (flagDsl, flagTwin) = caseOf("l_returnflag", "R" -> "returned",
      "A" -> "accepted", "N" -> "none")
    spec("lineitem", Seq("l_orderkey", "l_linenumber"), "l_updseq", Seq(
      Sidecars.Stats("l_orderkey"),
      Sidecars.Zone(Seq("l_orderkey", "l_partkey")),
      Sidecars.Bloom("l_orderkey"), Sidecars.Counts), Seq(
      ("l_orderkey", "bigint", "", col("l_orderkey")),
      ("l_linenumber", "int", "fn_transform_Integer(l_linenumber)",
        col("l_linenumber")),
      ("l_partkey", "bigint", "", col("l_partkey")),
      ("l_suppkey", "bigint", "", col("l_suppkey")),
      ("l_quantity", "numeric(12,2)", dec("l_quantity"), col("l_quantity")),
      ("l_extendedprice", "numeric(12,2)", dec("l_extendedprice"),
        col("l_extendedprice")),
      ("l_discount", "numeric(12,2)", dec("l_discount"), col("l_discount")),
      ("l_tax", "numeric(12,2)", dec("l_tax"), col("l_tax")),
      ("l_returnflag", "string", clear("l_returnflag"),
        trim(col("l_returnflag"))),
      ("l_flag_desc", "string", flagDsl, flagTwin),
      ("l_linestatus", "string", clear("l_linestatus"),
        trim(col("l_linestatus"))),
      ("l_shipdate", "date", dateOf("l_shipdate"), col("l_shipdate")),
      ("l_commitdate", "date", dateOf("l_commitdate"), col("l_commitdate")),
      ("l_receiptdate", "date", dateOf("l_receiptdate"),
        col("l_receiptdate")),
      ("l_shipinstruct", "string", clear("l_shipinstruct"),
        trim(col("l_shipinstruct"))),
      ("l_shipmode", "string", clear("l_shipmode"), trim(col("l_shipmode"))),
      ("l_comment", "string", clear("l_comment"), trim(col("l_comment"))),
      ("l_updseq", "bigint", "", col("l_updseq"))))
  }

  /** Dedup-latest over every landed version in plain Spark, then the
    * twin projection: the stage table graft should have produced. */
  def expected(src: DataFrame, t: TableSpec): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(t.keys.map(col): _*).orderBy(col(t.seqCol).desc)
    src.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(t.twin: _*)
  }

  /** Order-insensitive content hash: row count and the exact sum of each
    * row's 64-bit hash over the stage columns in config order. */
  def contentHash(df: DataFrame, t: TableSpec): (Long, java.math.BigDecimal) = {
    val r = df.select(t.stageColumns.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(t.stageColumns.map(col): _*)
        .cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1))
      .getOrElse(java.math.BigDecimal.ZERO))
  }
}
