package perfbench

import java.io.File
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic corpus in the engine's table layout (the ten
  * tables `graft.Tables` loads: a TPC-H-like star schema plus `events`,
  * `documents` and `embeddings`). Value domains follow the shape of the
  * engine's reference corpus: 2-decimal money, 64-dim unit embeddings in
  * 10 labelled clusters, a 31-word document vocabulary with a few
  * planted exact and near duplicates.
  *
  * The corpus depends on `sf` only, never on the run seed, so the
  * recorded oracle hashes in `perfbench/oracle/query_mix.json` stay
  * valid; the run seed drives the query order instead. Each table is one
  * parquet file `<dir>/<table>.parquet`; timestamps are written as
  * TIMESTAMP_NTZ micros, which is how the reference corpus stores them.
  */
object Corpus {

  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val adjectives = Seq("small", "red", "blue", "large", "hot", "old",
    "cold", "green")
  val nouns = Seq("ring", "widget", "bolt", "plate", "gear", "rod", "anvil",
    "nut")
  val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  val vocab: IndexedSeq[String] = ("key agg row scan slow fast table value " +
    "part hash a merge batch spark the line sort window data column join " +
    "small order customer query filter stream group big vector").split(" ")
    .toIndexedSeq
  val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    r.nextLong(lo, hi + 1) / 100.0

  private def ntz(d: LocalDate): LocalDateTime = d.atStartOfDay()

  /** Random document text of `words` vocabulary words. */
  def text(r: SplittableRandom, words: Int): String =
    Iterator.fill(words)(vocab(r.nextInt(vocab.size))).mkString(" ")

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Row counts at scale `sf` (sf 1 = 6M lineitem rows). */
  def counts(sf: Double): Map[String, Int] = Map(
    "customer" -> (150000 * sf).toInt, "supplier" -> (10000 * sf).toInt,
    "part" -> (200000 * sf).toInt, "orders" -> (1500000 * sf).toInt,
    "lineitem" -> (6000000 * sf).toInt, "events" -> (1000000 * sf).toInt,
    "users" -> math.max(10, (15000 * sf).toInt),
    "documents" -> math.max(500, (50000 * sf).toInt),
    "embeddings" -> math.max(500, (20000 * sf).toInt))

  /** Write all ten tables under `dir`; returns the bytes written. */
  def write(spark: SparkSession, dir: String, sf: Double): Long = {
    val n = counts(sf)
    val r = new SplittableRandom(20240101L)
    def str(name: String) = StructField(name, StringType)
    def int(name: String) = StructField(name, IntegerType)
    def long(name: String) = StructField(name, LongType)
    def dbl(name: String) = StructField(name, DoubleType)
    def ts(name: String) = StructField(name, TimestampNTZType)

    val tables = Seq[(String, Seq[StructField], Seq[Row])](
      ("region", Seq(int("r_regionkey"), str("r_name")),
        regions.zipWithIndex.map { case (nm, i) => Row(i, nm) }),
      ("nation", Seq(int("n_nationkey"), str("n_name"), int("n_regionkey")),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", Seq(long("c_custkey"), str("c_name"), int("c_nationkey"),
          dbl("c_acctbal"), str("c_mktsegment")),
        (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
          r.nextInt(25), cents(r, -99999, 999999),
          segments(r.nextInt(segments.size))))),
      ("supplier", Seq(long("s_suppkey"), str("s_name"), int("s_nationkey"),
          dbl("s_acctbal")),
        (0 until n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
          r.nextInt(25), cents(r, -99999, 999999)))),
      ("part", Seq(long("p_partkey"), str("p_name"), str("p_brand"),
          str("p_type"), int("p_size"), dbl("p_retailprice")),
        (0 until n("part")).map(i => Row(i.toLong,
          adjectives(r.nextInt(adjectives.size)) + " " +
            nouns(r.nextInt(nouns.size)),
          s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.size)),
          1 + r.nextInt(50), (9000 + i % 1000) / 10.0))),
      ("orders", Seq(long("o_orderkey"), long("o_custkey"),
          str("o_orderstatus"), dbl("o_totalprice"), ts("o_orderdate"),
          str("o_orderpriority")),
        (0 until n("orders")).map(i => Row(i.toLong,
          r.nextInt(n("customer")).toLong, Seq("F", "O", "P")(r.nextInt(3)),
          cents(r, 100000, 50000000),
          ntz(LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2404))),
          priorities(r.nextInt(priorities.size))))),
      ("lineitem", Seq(long("l_orderkey"), long("l_partkey"),
          long("l_suppkey"), int("l_linenumber"), dbl("l_quantity"),
          dbl("l_extendedprice"), dbl("l_discount"), dbl("l_tax"),
          str("l_returnflag"), str("l_linestatus"), ts("l_shipdate")),
        (0 until n("lineitem")).map(_ => Row(
          r.nextInt(n("orders")).toLong, r.nextInt(n("part")).toLong,
          r.nextInt(n("supplier")).toLong, 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, cents(r, 90000, 10500000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          ntz(LocalDate.of(1995, 1, 2).plusDays(r.nextInt(2498)))))),
      ("events", Seq(long("event_id"), ts("ts"), long("user_id"),
          str("event_type"), dbl("value"), str("props")), {
        val span = 30L * 86400L * 1000000L
        var t = 0L
        val gap = span / n("events")
        (0 until n("events")).map { i =>
          t += r.nextLong(1, 2 * gap)
          Row(i.toLong,
            LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(t * 1000L),
            r.nextInt(n("users")).toLong,
            eventTypes(r.nextInt(eventTypes.size)),
            // exponential-ish value in cents, capped like the reference
            math.min(56021L, (-math.log(1.0 - r.nextDouble()) * 2000).toLong)
              / 100.0,
            s"""{"k": ${r.nextInt(100)}}""")
        }
      }),
      ("documents", Seq(long("doc_id"), str("text"), str("lang"),
          str("source"), long("n_chars")), {
        val texts = scala.collection.mutable.ArrayBuffer[String]()
        (0 until n("documents")).map { i =>
          val t =
            if (i > 10 && i % 97 == 0) texts(r.nextInt(texts.size)) // exact dup
            else if (i > 10 && i % 41 == 0) {                       // near dup
              val w = texts(r.nextInt(texts.size)).split(" ")
              w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
              w.mkString(" ")
            } else text(r, 8 + r.nextInt(95))
          texts += t
          Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}",
            t.length.toLong)
        }
      }),
      ("embeddings", Seq(long("vec_id"),
          StructField("embedding", ArrayType(FloatType)), int("label")), {
        val dim = 64
        val centers = Array.fill(10, dim)(r.nextGaussian())
        (0 until n("embeddings")).map { i =>
          val label = r.nextInt(10)
          val v = Array.tabulate(dim)(d =>
            centers(label)(d) + 0.8 * r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
        }
      }))

    new File(dir).mkdirs()
    tables.map { case (name, fields, rows) =>
      writeSingleParquet(spark, rows, StructType(fields),
        new File(dir, s"$name.parquet"))
    }.sum
  }

  /** Write the query_mix corpus under `dir` from a session of its own,
    * whose scratch files go to `<dir>.tmp` and are removed after. */
  def writeAlone(dir: String): Unit = {
    val tmp = new File(dir + ".tmp")
    val r = new Run(0, false, tmp)
    r.startSession(tmp)
    write(r.spark, dir, QueryMix.sf)
    r.spark.stop()
    Files.deleteTree(tmp)
  }

  /** Write each group of `rows` as ONE parquet file at its path, all in
    * one Spark job, and the files read the same as
    * [[writeSingleParquet]]'s. */
  def writeParquetFiles(spark: SparkSession, files: Seq[(File, Seq[Row])],
                        schema: StructType, stage: File): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = files.zipWithIndex.flatMap { case ((_, rs), i) =>
      rs.map(r => Row.fromSeq(r.toSeq :+ i)) }
    spark.createDataFrame(rows.asJava, schema.add("file_index", IntegerType))
      .coalesce(1).write.partitionBy("file_index").parquet(stage.getPath)
    files.zipWithIndex.foreach { case ((out, _), i) =>
      val part = new File(stage, s"file_index=$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      out.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, out.toPath)
    }
    Files.deleteTree(stage)
  }

  /** Write `rows` as ONE parquet file at `out` (not a directory), so the
    * file reads the same from Spark and from DuckDB. Returns its size. */
  def writeSingleParquet(spark: SparkSession, rows: Seq[Row],
                         schema: StructType, out: File): Long = {
    import scala.jdk.CollectionConverters._
    val stage = new File(out.getPath + ".stage")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteTree(stage)
    out.length()
  }
}
