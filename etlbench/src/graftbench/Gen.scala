package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated input: what was written and why it has this size. */
final case class Input(name: String, rows: Long, files: Int, bytes: Long, why: String)

/** Deterministic inputs. Everything derives from the run's seed through
  * counter-based hashes (no RNG state shared between rows or tasks), so one
  * seed always gives byte-identical parquet. Every scanned table is written
  * as `files` splits, one per range of ids.
  */
object Gen {
  /** splitmix64 of (seed, stream, i): independent streams per purpose. */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(seed, stream, i))

  /** Per-row hash columns over `id`, one independent stream per `k`. */
  private final class Cols(seed: Long) {
    def hash(k: Int): Column = xxhash64(lit(seed), lit(k), col("id"))
    def unit(k: Int): Column =
      shiftrightunsigned(hash(k), 11).cast("double") * lit(1.0 / (1L << 53))
    def below(k: Int, m: Long): Column = pmod(hash(k), lit(m))
    def pick(k: Int, words: Seq[String]): Column =
      element_at(array(words.map(lit): _*), (below(k, words.size.toLong) + 1).cast("int"))
  }

  /** Runs independent set-up steps as concurrent Spark jobs, so one step's
    * driver gaps fill with another's tasks, and waits for all of them.
    */
  def together[T](bodies: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(bodies.map(b => Future(b()))), Duration.Inf)
    finally pool.shutdown()
  }

  def write(df: DataFrame, rows: Long, path: String, why: String): Input = {
    df.write.mode("overwrite").parquet(path)
    val parts = dataFiles(Paths.get(path))
    Input(Paths.get(path).getFileName.toString, rows, parts.size, parts.map(Files.size).sum, why)
  }

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(p => dir.relativize(p).toString)
    finally s.close()
  }

  /** SHA-256 over the column chunks of every parquet file under `dirs`, in
    * name order, with the per-write UUID Spark puts in part-file names left
    * out. The footer is left out too: parquet-mr lists each chunk's encodings
    * from a hash set, whose order differs between JVMs, and the rest of the
    * footer (schema, counts, statistics) follows from the chunks.
    */
  def digest(dirs: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    for (d <- dirs; p <- dataFiles(Paths.get(d))) {
      md.update(Paths.get(d).relativize(p).toString
        .replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "").getBytes("UTF-8"))
      val bytes = Files.readAllBytes(p)
      val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      md.update(bytes, 0, bytes.length - 8 - footer)
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  // ---------------------------------------------------------------- ETL ----

  val FirstDay: LocalDate = LocalDate.of(1992, 1, 1)
  val Months = 84
  private val Days = (FirstDay.plusMonths(Months).toEpochDay - FirstDay.toEpochDay)
  val Suppliers = 1000L
  val PartCount = 20000L
  val Customers = 15000L
  private val Materials = Seq("brass", "copper", "nickel", "steel", "tin", "bronze",
    "chrome", "zinc", "iron", "lead", "silver", "gold")
  private val Colors = Seq("almond", "azure", "blush", "burnished", "chiffon", "coral",
    "cream", "dim", "forest", "ghost", "honeydew", "ivory", "khaki", "lace",
    "lemon", "linen", "maroon", "misty", "navy", "olive", "orchid", "peach",
    "plum", "puff", "rose", "saddle", "sandy", "sienna", "slate", "snow",
    "spring", "tan", "thistle", "violet", "wheat")

  /** The lineitem-shaped fact and the dimensions the two ETL flows read. */
  def etl(spark: SparkSession, seed: Long, dir: String, files: Int,
      lineitemRows: Long, lineitemWhy: String): Seq[Input] = {
    val c = new Cols(seed)
    val t0 = FirstDay.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    def range(n: Long) = spark.range(0, n, 1, files)
    val lineitem = range(lineitemRows).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (c.below(1, PartCount) + 1).as("l_partkey"),
      (c.below(2, Suppliers) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      when(c.unit(3) < 0.05, lit(null)).otherwise((c.below(4, 50) + 1).cast("double"))
        .as("l_quantity"),
      when(c.unit(5) < 0.03, lit(null)).otherwise(round(c.unit(6) * 104000 + 900, 2))
        .as("l_extendedprice"),
      when(c.unit(7) < 0.04, lit(-1.0)).otherwise(c.below(8, 11) / 100.0).as("l_discount"),
      (c.below(9, 9) / 100.0).as("l_tax"),
      c.pick(10, Seq("A", "N", "R")).as("l_returnflag"),
      c.pick(11, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(t0) + c.below(12, Days) * 86400 + c.below(13, 86400))
        .cast("timestamp_ntz").as("l_shipdate"))
    val supplier = range(Suppliers).select(
      (col("id") + 1).as("s_suppkey"),
      format_string("Supplier#%09d", col("id") + 1).as("s_name"),
      c.below(20, 25).cast("int").as("s_nationkey"),
      round(c.unit(21) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val part = range(PartCount).select(
      (col("id") + 1).as("p_partkey"),
      concat_ws(" ", c.pick(30, Colors), c.pick(31, Colors ++ Materials),
        c.pick(32, Colors), c.pick(33, Colors ++ Materials)).as("p_name"),
      format_string("Brand#%d%d", c.below(34, 5) + 1, c.below(35, 5) + 1).as("p_brand"),
      upper(c.pick(36, Materials)).as("p_type"),
      (c.below(37, 50) + 1).cast("int").as("p_size"),
      round(c.unit(38) * 1100 + 900, 2).as("p_retailprice"))
    val customer = range(Customers).select(
      (col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      c.below(40, 25).cast("int").as("c_nationkey"),
      round(c.unit(41) * 10999.99 - 999.99, 2).as("c_acctbal"),
      c.pick(42, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val events = range(lineitemRows / 12).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(t0) + c.below(50, Days * 86400)).cast("timestamp_ntz").as("ts"),
      (c.below(51, Customers * 6 / 5) + 1).as("user_id"),
      c.pick(52, Seq("clock_in", "clock_out", "pause", "resume")).as("event_type"),
      (c.below(53, 36000) + 1).cast("double").as("value"),
      lit("{}").as("props"))
    Seq(
      write(lineitem, lineitemRows, s"$dir/lineitem.parquet", lineitemWhy),
      write(supplier, Suppliers, s"$dir/supplier.parquet", "sf0.1 size; the J4 broadcast dimension"),
      write(part, PartCount, s"$dir/part.parquet",
        "sf0.1 size; p_type is one material, contained in some p_name (J7 lookup)"),
      write(customer, Customers, s"$dir/customer.parquet",
        "sf0.1 size; the fichajes left-enrich dimension"),
      write(events, lineitemRows / 12, s"$dir/events.parquet",
        "one clock-in per 12 fact rows; 1/6 of user ids have no customer (left join survivors)"))
  }

  /** First day of month `m` of the fact's date range, ISO. */
  def monthStart(m: Int): String = FirstDay.plusMonths(m.toLong).toString

  // ---------------------------------------------------------- documents ----

  val Vocabulary = 6000

  def vocabulary(seed: Long): Array[String] = {
    val r = rng(seed, 19, 0)
    Array.fill(Vocabulary)(
      Array.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString)
  }

  /** An original document: 60-100 words drawn from the vocabulary. */
  def words(seed: Long, vocab: Array[String], id: Long): Array[String] = {
    val r = rng(seed, 20, id)
    Array.fill(60 + r.nextInt(41))(vocab(r.nextInt(vocab.length)))
  }

  /** A near-duplicate with `subs` words substituted. With 60+ words, three
    * substitutions keep word-3-shingle Jaccard >= 0.73 against the source,
    * above the engine's 0.7 verify threshold; one keeps it >= 0.9, where
    * 16 bands of 4 miss a pair with probability ~2e-8.
    */
  def mutate(src: Array[String], vocab: Array[String], r: SplittableRandom,
      subs: Int): Array[String] = {
    val w = src.clone()
    (0 until subs).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
    w
  }

  /** Corpus document `id`: every 10th (id % 10 == 9) is a near-duplicate of an
    * original in its own block of ten, so the built indexes hold clusters.
    */
  def corpusText(seed: Long, vocab: Array[String], id: Long): String =
    if (id % 10 != 9) words(seed, vocab, id).mkString(" ")
    else {
      val r = rng(seed, 22, id)
      mutate(words(seed, vocab, id - 1 - r.nextInt(9)), vocab, r, 1 + r.nextInt(3)).mkString(" ")
    }

  def corpus(spark: SparkSession, seed: Long, dir: String, files: Int, docs: Long): Input = {
    val vocab = vocabulary(seed)
    val text = udf((id: Long) => corpusText(seed, vocab, id))
    write(spark.range(0, docs, 1, files).select(col("id").as("doc_id"), text(col("id")).as("text")),
      docs, s"$dir/documents.parquet",
      "the dedup index base; a crawl batch is 1% of it, below the 2% where the engine takes its bulk routes")
  }

  /** Crawl batch `op`: ids continue after the corpus; a `planted` share are
    * one-word edits of corpus originals. Returns the rows and the planted
    * (source id, duplicate id) pairs.
    */
  def batch(seed: Long, vocab: Array[String], corpusDocs: Long, size: Int, op: Int,
      planted: Double): (Seq[(Long, String)], Seq[(Long, Long)]) = {
    val rows = (0 until size).map { j =>
      val id = corpusDocs + op.toLong * size + j
      val r = rng(seed, 21, id)
      if (r.nextDouble() < planted) {
        val src = r.nextLong(corpusDocs / 10) * 10 + r.nextInt(9)
        ((id, mutate(words(seed, vocab, src), vocab, r, 1).mkString(" ")), Some((src, id)))
      } else ((id, words(seed, vocab, id).mkString(" ")), None)
    }
    (rows.map(_._1), rows.flatMap(_._2))
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, DocSchema)

  // ------------------------------------------------------------ vectors ----

  val Dim = 64
  private val Clusters = 64
  private val ClusterRank = 8

  /** Per cluster: a centre and a rank-8 basis. A vector is its cluster's
    * centre plus a random point of that subspace plus small isotropic noise,
    * so neighbourhoods have low intrinsic dimension, as embeddings do.
    */
  final class Space(seed: Long) extends Serializable {
    private val (centres, bases) = {
      val r = rng(seed, 30, 0)
      def gauss() = Array.fill(Dim)((r.nextGaussian() / math.sqrt(Dim)).toFloat)
      (Array.fill(Clusters)(gauss()), Array.fill(Clusters, ClusterRank)(gauss()))
    }

    def vector(id: Long): (Array[Float], Int) = {
      val g = rng(seed, 31, id)
      val c = g.nextInt(Clusters)
      val v = centres(c).clone()
      for (b <- bases(c)) {
        val a = (g.nextGaussian() * 0.5).toFloat
        var i = 0
        while (i < Dim) { v(i) += a * b(i); i += 1 }
      }
      var i = 0
      while (i < Dim) { v(i) += (g.nextGaussian() * 0.02).toFloat; i += 1 }
      (v, c)
    }
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  def vectors(spark: SparkSession, space: Space, dir: String, files: Int, n: Long): Input = {
    val vec = udf((id: Long) => space.vector(id)._1)
    val label = udf((id: Long) => space.vector(id)._2)
    write(spark.range(0, n, 1, files).select(col("id").as("vec_id"),
        vec(col("id")).as("embedding"), label(col("id")).as("label")),
      n, s"$dir/vectors.parquet",
      "large enough that a 128-query IVF-PQ probe beats bruteForceTopK (at 2,000 vectors it loses 3x)")
  }

  def vecFrame(spark: SparkSession, space: Space, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map { id =>
      val (v, c) = space.vector(id)
      Row(id, v.toSeq, c)
    }.asJava, VecSchema)
}
