package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.sources.MergeWriter

/** The upsert against its specification, the pure [[MergeWriter.merge]]:
  * random tables (several files, partitioned by `targname` or not) and
  * batches drawn from one small key space, so batches carry duplicate
  * keys, null keys and partial overlaps; every batch is then delivered a
  * second time. After each delivery the table holds exactly
  * `merge(table, batch, keys)` as a multiset, and every file holding no
  * key whose stored rows differ from the batch's kept its bytes. */
object MergeWriterProps extends Properties("mergewriter") {

  // each case is a few dozen small Spark jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = GraftSession.local(4)

  private type Row = (String, Option[Int], Int, Seq[Long])
  private val cols = Seq("targname", "k", "v", "sig")
  private val keys = Seq("targname", "k")

  private val row: Gen[Row] = for {
    t <- Gen.oneOf("ngc104", "47 Tuc")
    k <- Gen.frequency(5 -> Gen.choose(0, 5).map(Option(_)), 1 -> Gen.const(None))
    v <- Gen.choose(0, 1)
  } yield (t, k, v, Seq(v.toLong, k.fold(-1L)(_.toLong)))

  private def rows(max: Int): Gen[List[Row]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, row))

  private case class Case(table: List[Row], files: Int, batch: List[Row],
                          partitioned: Boolean)

  private val cases: Gen[Case] = for {
    table <- rows(10).suchThat(_.nonEmpty)
    files <- Gen.choose(1, 3)
    // a fresh batch, or stored rows sent again
    batch <- Gen.oneOf(rows(6), Gen.someOf(table).map(_.toList))
    partitioned <- Gen.oneOf(true, false)
  } yield Case(table, files, batch, partitioned)

  private def toRows(df: DataFrame): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.map(r =>
      (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Int]), r.getInt(2),
        r.getSeq[Long](3).toSeq))

  private def multiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** One delivery of `batch` into the table at `dir`, checked. */
  private def deliver(dir: String, batch: DataFrame,
                      part: Seq[String]): Boolean = {
    val table = spark.read.parquet(dir)
    val expected = multiset(toRows(MergeWriter.merge(table, batch, keys)))
    // each stored row with its file, relative to the table directory
    val stored = table.select(cols.map(col) :+ col("_metadata.file_path"): _*)
      .collect().toSeq.map { r =>
        val key = (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Int]))
        val file = Paths.get(dir).relativize(
          Paths.get(new URI(r.getString(4)).getPath)).toString
        (key, (r.getString(0), key._2, r.getInt(2), r.getSeq[Long](3).toSeq),
          file)
      }
    val sent = toRows(batch)
    def key(r: Row) = (r._1, r._2)
    // a key (never a null one: those match nothing) whose stored rows
    // differ from its batch rows as a multiset
    val differing = sent.map(key).distinct.filter(k => k._2.nonEmpty &&
      multiset(stored.filter(_._1 == k).map(_._2)) !=
        multiset(sent.filter(r => key(r) == k)))
    val changes = sent.exists(r => r._2.isEmpty) ||
      sent.map(key).distinct.exists(k => differing.contains(k) ||
        !stored.exists(_._1 == k))
    val kept = stored.map(_._3).toSet --
      stored.filter(s => differing.contains(s._1)).map(_._3)
    val before = TableFiles.fileStates(dir)
    MergeWriter.upsertParquet(spark, dir, batch, keys, part)
    val after = TableFiles.fileStates(dir)
    multiset(toRows(spark.read.parquet(dir))) == expected &&
      kept.forall(f => after.get(f) == before.get(f)) &&
      (changes || after == before)
  }

  property("upsert == merge as a multiset; files without a differing key keep their bytes") =
    forAllNoShrink(cases) { c =>
      import spark.implicits._
      val dir = Files.createTempDirectory("graft_props").toString + "/t"
      val part = if (c.partitioned) Seq("targname") else Nil
      val seed = c.table.toDF(cols: _*).repartition(c.files).write
      (if (c.partitioned) seed.partitionBy("targname") else seed).parquet(dir)
      val batch = c.batch.toDF(cols: _*)
      deliver(dir, batch, part) && deliver(dir, batch, part)
    }
}
