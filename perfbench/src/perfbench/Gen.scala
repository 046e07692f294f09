package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the harness tables (region, nation, customer,
  * supplier, part, orders, lineitem, events, documents, embeddings) with
  * the schemas and value distributions of the TPC-H-ish test data the
  * engine is written against.
  *
  * Row CONTENT is a pure function of a row's base id and never of the
  * seed, so every order-independent answer is the same for every seed
  * and can be checked against stored fingerprints. The seed only picks
  * the ROW ORDER of each file, through an affine bijection
  * `id = (a * pos + b) mod n` on the row positions.
  *
  * `copies` > 1 builds a key-offset replica: copy `c` of customer,
  * supplier, part, orders and lineitem shifts every join key by
  * `c * n_table`, so joins stay within a copy and every aggregate over
  * the replica scales with the copy count. nation and region are never
  * replicated; events, documents and embeddings keep one copy.
  *
  * Rows are built in plain Scala: as Catalyst expressions these columns
  * compile to generated classes that take seconds to compile per run.
  */
final case class Scale(customer: Long, supplier: Long, part: Long,
    orders: Long, lineitem: Long, events: Long, documents: Long,
    embeddings: Long, copies: Int = 1) {
  def tag: String =
    Seq(customer, supplier, part, orders, lineitem, events, documents,
      embeddings, copies.toLong).mkString("-")

  /** Base rows (one copy) of `table`. */
  def base(table: String): Long = table match {
    case "region" => 5
    case "nation" => 25
    case "customer" => customer
    case "supplier" => supplier
    case "part" => part
    case "orders" => orders
    case "lineitem" => lineitem
    case "events" => events
    case "documents" => documents
    case "embeddings" => embeddings
  }

  def rows(table: String): Long = base(table) * (if (Scale.Replicated(table)) copies else 1)
}

object Scale {
  val Replicated = Set("customer", "supplier", "part", "orders", "lineitem")
  /** Row counts of the test data's sf0.1 tables. */
  val sf01 = Scale(15000, 1000, 20000, 150000, 600000, 100000, 5000, 2000)
  /** Row counts of the test data's sf0.01 tables. */
  val sf001 = Scale(1500, 100, 2000, 15000, 60000, 10000, 500, 500)
}

object Gen {

  /** Part of every dataset's directory name: bump it when the generated
    * content changes, so a stale dataset is never reused. */
  val Version = 2

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Big = Set("orders", "lineitem")

  private val Words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("large", "hot", "blue", "old", "red", "new", "small", "cold")
  private val Nouns = Array("ring", "bolt", "plate", "rod", "gear", "widget", "anvil", "gizmo")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Ship0 = LocalDateTime.of(1995, 1, 2, 0, 0)
  private val Events0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** SplitMix64 of (id, salt): the source of every generated value. */
  private def h(id: Long, salt: Int): Long = {
    var z = id * 0x100000001B3L + salt * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform long in [0, n). */
  private def pick(id: Long, salt: Int, n: Long): Long = java.lang.Math.floorMod(h(id, salt), n)
  /** Uniform double in [0, 1). */
  private def u(id: Long, salt: Int): Double = (h(id, salt) >>> 11) * (1.0 / (1L << 53))
  private def money(id: Long, salt: Int, lo: Double, hi: Double): Double =
    math.round((lo + u(id, salt) * (hi - lo)) * 100) / 100.0
  private def choice(id: Long, salt: Int, xs: Array[String]): String =
    xs(pick(id, salt, xs.length).toInt)

  private def text(id: Long): String = {
    val len = 10 + pick(id, 101, 91).toInt
    (0 until len).map(i => Words(pick(id, 1000 + i, Words.length).toInt)).mkString(" ")
  }

  private def schema(t: String): StructType = {
    def f(n: String, dt: DataType) = StructField(n, dt)
    StructType(t match {
      case "region" => Seq(f("r_regionkey", IntegerType), f("r_name", StringType))
      case "nation" => Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))
      case "customer" => Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))
      case "supplier" => Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))
      case "part" => Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))
      case "orders" => Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))
      case "lineitem" => Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))
      case "events" => Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))
      case "documents" => Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))
      case "embeddings" => Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))
      case other => throw new IllegalArgumentException(s"unknown table $other")
    })
  }

  /** The row with base id `id` in copy `c` of table `t`. */
  private def row(t: String, s: Scale, id: Long, c: Long): Row = t match {
    case "region" => Row(id.toInt, Regions(id.toInt))
    case "nation" => Row(id.toInt, s"NATION_$id", (id % 5).toInt)
    case "customer" =>
      val key = id + c * s.customer
      Row(key, f"Customer#$key%09d", pick(id, 1, 25).toInt, money(id, 2, -999.99, 9999.99),
        choice(id, 3, Segments))
    case "supplier" =>
      val key = id + c * s.supplier
      Row(key, f"Supplier#$key%09d", pick(id, 4, 25).toInt, money(id, 5, -999.99, 9999.99))
    case "part" =>
      Row(id + c * s.part, s"${choice(id, 6, Adjectives)} ${choice(id, 7, Nouns)}",
        s"Brand#${pick(id, 8, 25) + 1}", choice(id, 9, Types), (pick(id, 10, 50) + 1).toInt,
        math.round((900.0 + (id % 1000) / 10.0) * 10) / 10.0)
    case "orders" =>
      Row(id + c * s.orders, pick(id, 11, s.customer) + c * s.customer,
        choice(id, 12, Array("F", "O", "P")), money(id, 13, 1000.0, 500000.0),
        Day0.plusDays(pick(id, 14, 2404)), choice(id, 15, Priorities))
    case "lineitem" =>
      Row(pick(id, 16, s.orders) + c * s.orders, pick(id, 17, s.part) + c * s.part,
        pick(id, 18, s.supplier) + c * s.supplier, (pick(id, 19, 7) + 1).toInt,
        (pick(id, 20, 50) + 1).toDouble, money(id, 21, 900.0, 105000.0),
        pick(id, 22, 11) / 100.0, pick(id, 23, 9) / 100.0,
        choice(id, 24, Array("A", "N", "R")), choice(id, 25, Array("F", "O")),
        Ship0.plusDays(pick(id, 26, 2498)))
    case "events" =>
      // monotone in event_id: one slot of 30 days / n per event, with a
      // jitter inside the slot
      val slotUs = 30L * 86400L * 1000000L / s.events
      val us = id * slotUs + (u(id, 27) * slotUs).toLong
      Row(id, Events0.plusNanos(us * 1000), pick(id, 28, 1500), choice(id, 29, EventTypes),
        math.round(-math.log(1.0 - u(id, 30)) * 50.0 * 100) / 100.0,
        s"""{"k": ${pick(id, 31, 100)}}""")
    case "documents" =>
      // one document in 20 is a near-duplicate: another document's text
      // with " dup" appended
      val txt = if (pick(id, 32, 20) == 0) text(pick(id, 33, s.documents)) + " dup" else text(id)
      Row(id, txt, choice(id, 34, Langs), s"src${id % 20}", txt.length.toLong)
    case "embeddings" =>
      // unit-norm gaussian vectors (Box-Muller), dim 64, label 0..9
      val g = Array.tabulate(64)(i =>
        math.sqrt(-2.0 * math.log(1.0 - u(id, 200 + i))) * math.cos(2 * math.Pi * u(id, 300 + i)))
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(id, g.map(x => (x / norm).toFloat).toSeq, pick(id, 35, 10).toInt)
  }

  /** Table `t` with its rows in the seed's order, as `files` contiguous
    * runs of row positions. */
  def table(spark: SparkSession, t: String, s: Scale, seed: Long, files: Int): DataFrame = {
    val total = s.rows(t)
    val n = s.base(t)
    require(total < (1L << 31), s"$t: $total rows is past the generator's range")
    val rnd = new scala.util.Random(seed * 31 + t.hashCode)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = (rnd.nextLong() & Long.MaxValue) % total | 1L
    while (total > 1 && gcd(a, total) != 1) a += 2
    val b = (rnd.nextLong() & Long.MaxValue) % total
    val rdd = spark.sparkContext.parallelize(0 until files, files).flatMap { f =>
      (total * f / files until total * (f + 1) / files).iterator.map { pos =>
        val id = (a * pos + b) % total // a * pos < 2^62: no overflow
        row(t, s, id % n, id / n)
      }
    }
    spark.createDataFrame(rdd, schema(t))
  }

  /** Writes every table as one parquet file under `dir` (the harness
    * layout; a replica's big tables split into four) and a manifest of
    * per-file sizes and CRC32s. */
  def write(spark: SparkSession, dir: File, s: Scale, seed: Long): Unit = {
    // one job per table, four tables at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      tables.map { t =>
        pool.submit(new Runnable {
          def run(): Unit =
            table(spark, t, s, seed, if (s.copies > 1 && Big(t)) 4 else 1)
              .write.mode("overwrite").parquet(new File(dir, s"$t.parquet").getPath)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    Files.writeString(new File(dir, "MANIFEST").toPath, manifest(dir))
  }

  /** "relative path size crc32" per data file, sorted. */
  def manifest(dir: File): String = {
    val base = dir.toPath
    val files = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.walk(base).iterator()).asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    files.map { p =>
      val crc = new CRC32(); crc.update(Files.readAllBytes(p))
      s"${base.relativize(p)} ${Files.size(p)} ${crc.getValue}"
    }.mkString("", "\n", "\n")
  }

  /** Reuses `dir` if its manifest matches its files; else rebuilds it. */
  def ensure(spark: SparkSession, dir: File, s: Scale, seed: Long): Unit = {
    val m = new File(dir, "MANIFEST")
    if (!(m.isFile && Files.readString(m.toPath) == manifest(dir))) {
      deleteTree(dir.toPath)
      dir.mkdirs()
      write(spark, dir, s, seed)
    }
  }

  /** Total bytes of a generated dataset's parquet files. */
  def bytes(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.walk(p).iterator()).asScala.toSeq
      all.reverse.foreach(Files.deleteIfExists(_))
    }
}
