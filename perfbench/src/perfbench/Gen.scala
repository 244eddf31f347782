package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. The engine only ever sees the files written
  * here; nothing is read from outside the benchmark's work directory.
  *
  * Every row is a pure function of (seed, table, row index), so a table
  * is byte-for-byte the same whatever the partitioning that wrote it. */
object Gen {

  private def rnd(seed: Long, table: Int, i: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + table * 7919L + i * 0x9E3779B97F4A7C15L)

  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    (lo + r.nextLong(hi - lo + 1)) / 100.0

  private val DayMs = 86400000L
  private def day(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay

  // ---------------------------------------------------------------- CSV pair

  /** The reference sample shape (age, gender, pincode, income, target),
    * one anon file and one real file derived from it: each real row is the
    * anon row, copied exactly or with its age moved by 1–3 years. */
  final case class CsvPair(real: String, anon: String, rows: Int, bytes: Long,
                           header: Array[String], anonRows: Array[Array[String]],
                           realRows: Array[Array[String]]) {

    /** Share of anon rows whose quasi-identifier tuple occurs verbatim in
      * the real file: k=1 linkage scores an exact match 1 and any other
      * row ≈ 0, so this is the risk score the engine must report. */
    def expectedRisk(quasi: Seq[String]): Double = {
      val idx = quasi.map(header.indexOf(_))
      require(idx.forall(_ >= 0), s"unknown quasi columns in $quasi")
      def key(r: Array[String]) = idx.map(r(_)).mkString("\u0001")
      val realKeys = realRows.map(key).toSet
      anonRows.count(r => realKeys(key(r))).toDouble / anonRows.length
    }
  }

  def csvPair(dir: Path, seed: Long, n: Int): CsvPair = {
    val genders = Array("M", "F", "O")
    val anon = Array.tabulate(n) { i =>
      val r = rnd(seed, 1, i)
      val age = 18 + r.nextInt(60)
      val income = 20000 + r.nextInt(80000)
      val target = if ((income / 1000 + age + r.nextInt(20)) % 3 == 0) 1 else 0
      Array(age.toString, genders(r.nextInt(3)), (560000 + r.nextInt(100)).toString,
        income.toString, target.toString)
    }
    val real = anon.zipWithIndex.map { case (row, i) =>
      val r = rnd(seed, 2, i)
      if (r.nextInt(100) < 60) row.clone()
      else row.updated(0, (row(0).toInt + 1 + r.nextInt(3)).toString)
    }
    val header = Array("age", "gender", "pincode", "income", "target")
    Files.createDirectories(dir)
    def write(name: String, rows: Array[Array[String]]): Path = {
      val p = dir.resolve(name)
      Files.writeString(p, (header +: rows).map(_.mkString(",")).mkString("\n"))
      p
    }
    val (pr, pa) = (write("real.csv", real), write("anon.csv", anon))
    CsvPair(pr.toString, pa.toString, n, Files.size(pr) + Files.size(pa), header, anon, real)
  }

  // ---------------------------------------------------------------- tables

  /** Row counts at scale 1.0, the shape of the sf0.1 fixture tables. */
  private val BaseRows = Map(
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  /** Tables whose size does not scale below the fixture's smallest size. */
  private val MinRows = Map("documents" -> 500L, "embeddings" -> 500L)

  private def rowsAt(table: String, scale: Double): Long =
    math.max(MinRows.getOrElse(table, 1L), math.round(BaseRows(table) * scale))

  /** Write all ten catalog tables as single parquet files `<dir>/<t>.parquet`.
    * Returns (rows, bytes) over all tables. */
  def tables(spark: SparkSession, dir: Path, scale: Double, seed: Long): (Long, Long) = {
    val n = BaseRows.keys.map(t => t -> rowsAt(t, scale)).toMap
    val frames: Seq[(String, DataFrame)] = Seq(
      "region" -> frame(spark, 5, Schemas.region, Rows.region),
      "nation" -> frame(spark, 25, Schemas.nation, Rows.nation),
      "customer" -> frame(spark, n("customer"), Schemas.customer, Rows.customer(seed)),
      "supplier" -> frame(spark, n("supplier"), Schemas.supplier, Rows.supplier(seed)),
      "part" -> frame(spark, n("part"), Schemas.part, Rows.part(seed)),
      "orders" -> frame(spark, n("orders"), Schemas.orders, Rows.orders(seed, n("customer"))),
      "lineitem" -> lineitem(spark, n("lineitem"), seed, n("orders"), n("part"), n("supplier")),
      "events" -> frame(spark, n("events"), Schemas.events,
        Rows.events(seed, n("events"), math.max(15L, math.round(1500 * scale)))),
      "documents" -> frame(spark, n("documents"), Schemas.documents, Rows.documents(seed)),
      "embeddings" -> frame(spark, n("embeddings"), Schemas.embeddings, Rows.embeddings(seed)))
    frames.foldLeft((0L, 0L)) { case ((rows, bytes), (name, df)) =>
      val p = writeParquet(spark, df, dir, name)
      (rows + (if (name == "region") 5 else if (name == "nation") 25 else n(name)), bytes + Files.size(p))
    }
  }

  def lineitem(spark: SparkSession, rows: Long, seed: Long,
               orders: Long = 150000, parts: Long = 20000, supps: Long = 1000): DataFrame =
    frame(spark, rows, Schemas.lineitem, Rows.lineitem(seed, orders, parts, supps))

  /** Keep a seeded ~70% of the (l_quantity, l_discount, l_returnflag)
    * tuples: the real side of the lineitem pipeline, so its k=1 linkage
    * risk is the share of anon rows whose tuple was kept. */
  def keepTupleSql(seed: Long): String =
    s"pmod(xxhash64(l_quantity, l_discount, l_returnflag, ${seed}L), 10) < 7"

  private def frame(spark: SparkSession, n: Long, schema: StructType,
                    row: Long => Row): DataFrame = {
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism.toLong, n / 20000 + 1)).toInt
    spark.createDataFrame(spark.sparkContext.range(0L, n, 1L, parts).map(row), schema)
  }

  /** One regular parquet file per table (the fixture layout the loaders
    * and footer fast paths expect), timestamps as TIMESTAMP_MICROS. */
  def writeParquet(spark: SparkSession, df: DataFrame, dir: Path, name: String): Path = {
    val tmp = dir.resolve(s".$name.tmp")
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    val dst = dir.resolve(s"$name.parquet")
    Files.move(part, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
    dst
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  private object Schemas {
    private def f(n: String, t: DataType) = StructField(n, t, nullable = true)
    val region = StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType)))
    val nation = StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType)))
    val customer = StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)))
    val supplier = StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)))
    val part = StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType)))
    val orders = StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType)))
    val lineitem = StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType)))
    val events = StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType)))
    val documents = StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType)))
    val embeddings = StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType)))
  }

  /** Row builders: top-level functions of (seed, index), so the closures
    * shipped to tasks capture nothing but numbers. */
  private object Rows {
    private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    private val OrderStatus = Array("F", "O", "P")
    private val ReturnFlags = Array("A", "N", "R")
    private val LineStatus = Array("F", "O")
    private val EventTypes = Array("click", "error", "purchase", "signup", "view")
    private val Langs = Array("de", "en", "es", "fr", "zh")
    private val Words = Array("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
      "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
      "value", "vector", "window")
    private val EmbedDim = 64

    private def ts(epochDay: Long) = new java.sql.Timestamp(epochDay * DayMs)

    val region: Long => Row = i => Row(i.toInt, Regions(i.toInt))
    val nation: Long => Row = i => Row(i.toInt, s"NATION_$i", (i % 5).toInt)

    def customer(seed: Long): Long => Row = i => {
      val r = rnd(seed, 10, i)
      Row(i, f"Customer#$i%09d", r.nextInt(25), cents(r, -99999, 999999), Segments(r.nextInt(5)))
    }

    def supplier(seed: Long): Long => Row = i => {
      val r = rnd(seed, 11, i)
      Row(i, f"Supplier#$i%09d", r.nextInt(25), cents(r, -99999, 999999))
    }

    def part(seed: Long): Long => Row = i => {
      val r = rnd(seed, 12, i)
      Row(i, s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        Types(r.nextInt(6)), 1 + r.nextInt(50), (9000 + i % 1000) / 10.0)
    }

    def orders(seed: Long, customers: Long): Long => Row = {
      val (d0, d1) = (day("1995-01-01"), day("2001-08-01"))
      i => {
        val r = rnd(seed, 13, i)
        Row(i, r.nextLong(customers), OrderStatus(r.nextInt(3)),
          cents(r, 100191, 49999318), ts(d0 + r.nextLong(d1 - d0 + 1)), Priorities(r.nextInt(5)))
      }
    }

    def lineitem(seed: Long, orders: Long, parts: Long, supps: Long): Long => Row = {
      val (d0, d1) = (day("1995-01-02"), day("2001-11-04"))
      i => {
        val r = rnd(seed, 14, i)
        Row(r.nextLong(orders), r.nextLong(parts), r.nextLong(supps), 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, cents(r, 90068, 10499991), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)), LineStatus(r.nextInt(2)),
          ts(d0 + r.nextLong(d1 - d0 + 1)))
      }
    }

    /** Event times rise with the id (one slot of the 30-day window each,
      * jittered inside the slot), the append-only stream shape. */
    def events(seed: Long, n: Long, users: Long): Long => Row = {
      val t0 = day("2024-01-01") * DayMs * 1000L
      val slot = 30L * DayMs * 1000L / math.max(1L, n)
      i => {
        val r = rnd(seed, 15, i)
        val micros = t0 + i * slot + r.nextLong(math.max(1L, slot))
        val value = math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0
        val t = new java.sql.Timestamp(micros / 1000L)
        t.setNanos(((micros % 1000000L) * 1000L).toInt)
        Row(i, t, r.nextLong(users), EventTypes(r.nextInt(5)), value,
          s"""{"k": ${r.nextInt(100)}}""")
      }
    }

    private def words(seed: Long, doc: Long): Array[String] = {
      val r = rnd(seed, 16, doc)
      Array.fill(10 + r.nextInt(91))(Words(r.nextInt(Words.length)))
    }

    /** One document in ten is a near-copy of an earlier one (a few words
      * replaced), one in two hundred an exact copy: the dedup operators'
      * positives. */
    def documents(seed: Long): Long => Row = i => {
      val r = rnd(seed, 17, i)
      val kind = r.nextInt(200)
      val text =
        if (i > 0 && kind == 0) words(seed, r.nextLong(i)).mkString(" ")
        else if (i > 0 && kind < 20) {
          val w = words(seed, r.nextLong(i))
          (0 until 1 + w.length / 20).foreach(_ => w(r.nextInt(w.length)) = Words(r.nextInt(Words.length)))
          w.mkString(" ")
        } else words(seed, i).mkString(" ")
      Row(i, text, Langs(r.nextInt(5)), s"src${r.nextInt(20)}", text.length.toLong)
    }

    /** Unit vectors around ten label centres. */
    def embeddings(seed: Long): Long => Row = i => {
      val r = rnd(seed, 18, i)
      val label = r.nextInt(10)
      val c = rnd(seed, 19, label)
      val v = Array.fill(EmbedDim)(gauss(c) + 1.5 * gauss(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
    }

    private def gauss(r: SplittableRandom): Double = {
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
  }
}
