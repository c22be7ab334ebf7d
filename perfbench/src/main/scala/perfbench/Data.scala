package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The engine's ten input tables, generated from a seed.
  *
  * The shapes follow the engine's parquet fixtures (FIXTURES.md §B): the
  * same names, column types and value domains, `scale` rows per table as
  * a TPC-H scale factor (lineitem ≈ 6M × scale) and 500 documents and
  * embeddings at scale ≤ 0.01. About 5% of documents copy another
  * document and append " dup", so the near-duplicate entries have pairs
  * to find. The registry pins in `pins.tsv` hold for [[DataSeed]] and
  * [[Scale]] only.
  */
object Data {
  val DataSeed = 42L
  val Scale = 0.01

  private val Vocab = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big " +
    "sort query fast the").split(' ').toIndexedSeq
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Seq("red", "blue", "small", "large", "hot", "cold", "old", "new")
  private val Nouns = Seq("widget", "bolt", "gear", "ring", "rod", "plate", "gizmo", "anvil")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")

  private def day(base: LocalDate, plus: Int): Timestamp =
    Timestamp.from(base.plusDays(plus.toLong).atStartOfDay().toInstant(ZoneOffset.UTC))
  private def cents(v: Double): Double = math.round(v * 100) / 100.0

  /** Rows of every table, in key order. */
  def tables(seed: Long, scale: Double): Seq[(String, StructType, Seq[Row])] = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def n(perUnit: Double): Int = math.max(1, math.round(perUnit * scale).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEvt = n(1000000)
    val nUsers = n(15000); val nDocs = math.max(500, n(50000)); val nVec = math.max(500, n(20000))
    val d0 = LocalDate.of(1995, 1, 1)
    def s(fields: (String, DataType)*) = StructType(fields.map { case (f, t) => StructField(f, t) })

    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until nCust).map(k => Row(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
      cents(-999.99 + rnd.nextDouble() * 10999.98), pick(Segments)))
    val supplier = (0 until nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", rnd.nextInt(25),
      cents(-999.99 + rnd.nextDouble() * 10999.98)))
    val part = (0 until nPart).map(k => Row(k.toLong, s"${pick(Colors)} ${pick(Nouns)}",
      s"Brand#${1 + rnd.nextInt(25)}", pick(PartTypes), 1 + rnd.nextInt(50),
      (9000 + k % 1000) / 10.0))
    val orders = (0 until nOrd).map(k => Row(k.toLong, rnd.nextInt(nCust).toLong,
      pick(Seq("F", "O", "P")), cents(1000 + rnd.nextDouble() * 499000),
      day(d0, rnd.nextInt(2400)), pick(Priorities)))
    val lineitem = (0 until nLine).map(_ => Row(rnd.nextInt(nOrd).toLong,
      rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7),
      (1 + rnd.nextInt(50)).toDouble, cents(900 + rnd.nextDouble() * 104100),
      rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
      pick(Seq("F", "O")), day(d0.plusDays(1), rnd.nextInt(2500))))
    val t0 = LocalDate.of(2024, 1, 1).atStartOfDay().toInstant(ZoneOffset.UTC)
    val meanGapMicros = 30L * 86400L * 1000000L / nEvt
    var tMicros = 0L
    val events = (0 until nEvt).map { k =>
      tMicros += 1 + (rnd.nextDouble() * 2 * meanGapMicros).toLong
      Row(k.toLong, Timestamp.from(t0.plusNanos(tMicros * 1000)), rnd.nextInt(nUsers).toLong,
        pick(EventTypes), cents(math.min(490.0, 0.01 - 50 * math.log(1 - rnd.nextDouble()))),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val base = Array.fill(nDocs)((1 to 10 + rnd.nextInt(90)).map(_ => pick(Vocab)).mkString(" "))
    val text = base.indices.map { i =>
      if (rnd.nextDouble() < 0.05) base((i + 1 + rnd.nextInt(nDocs - 1)) % nDocs) + " dup" else base(i)
    }
    val documents = text.indices.map(i => Row(i.toLong, text(i), pick(Langs), s"src${i % 20}",
      text(i).length.toLong))
    val embeddings = (0 until nVec).map { k =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    Seq(
      ("region", s("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", s("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", s("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), customer),
      ("supplier", s("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType), supplier),
      ("part", s("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", s("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
        "o_orderpriority" -> StringType), orders),
      ("lineitem", s("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), lineitem),
      ("events", s("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", s("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", s("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), embeddings))
  }

  /** Write every table as one parquet file `<dir>/<name>.parquet` with
    * microsecond timestamps, as the fixtures ship them.
    */
  def write(spark: SparkSession, dir: String, seed: Long = DataSeed, scale: Double = Scale): Unit = {
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try tables(seed, scale).foreach { case (name, schema, rows) =>
      val staging = Paths.get(dir, s"$name.staging")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
      Files.move(part, Paths.get(dir, s"$name.parquet"))
      FileUtils.deleteDirectory(staging.toFile)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }
}
