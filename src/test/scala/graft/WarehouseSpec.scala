package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Warehouse

/** Freshness of the warehouse-derived tables, each over its own temp
  * base: an ensure over an unchanged base writes nothing, a rewritten
  * base is rebuilt and served, and a managed location the catalog does
  * not know is swept before the build. */
class WarehouseSpec extends SparkSpecBase {

  /** A derived table family: the base tables it reads, the names of its
    * tables for a corpus dir's [[Warehouse.dirTag]], and its ensure
    * returning (table name, the rows it must hold over a base dir). */
  private case class Derived(label: String, bases: Seq[String],
                             names: String => Seq[String],
                             ensure: String => Seq[(String, DataFrame)])

  private def ordersGrain(dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum(Exact.dec2(col("o_totalprice"))).as("sum_o_totalprice"),
        min(col("o_totalprice")).as("min_o_totalprice"),
        max(col("o_totalprice")).as("max_o_totalprice"))

  private val families = Seq(
    Derived("bucketed copies", Seq("orders", "lineitem"),
      tag => Seq(s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag"),
      dir => {
        val (o, l) = operators.Skew.ensureBucketedTables(spark, dir)
        Seq(o -> Tables.orders(spark, dir), l -> Tables.lineitem(spark, dir))
      }),
    Derived("Z copy", Seq("lineitem"),
      tag => Seq(s"graft_z_lineitem_$tag"),
      dir => Seq(sources.ZOrder.ensureZLineitem(spark, dir) ->
        Tables.lineitem(spark, dir))),
    Derived("orders summary", Seq("orders"),
      tag => Seq(s"graft_mv2_orders_$tag"),
      dir => Seq(plans.SummaryAgg.ensureOrdersSummary(spark, dir) ->
        ordersGrain(dir))))

  /** Write `n` rows of each base table from the shared corpus into `dir`,
    * taken from the low or the high end of the key range. */
  private def writeBase(dir: String, bases: Seq[String], n: Int,
                        high: Boolean): Unit =
    bases.foreach { t =>
      val src = Tables.load(spark, sfDir, t)
      val key = col(src.columns.head)
      src.orderBy(if (high) key.desc else key).limit(n)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  private def tempBase(f: Derived): String = {
    val dir = Files.createTempDirectory("graft_wh").toString
    writeBase(dir, f.bases, 300, high = false)
    dir
  }

  private def location(name: String): File =
    new File(Warehouse.dir(spark), name)

  /** Every file under the table's location and its tag file, with its
    * size and modification time. */
  private def snapshot(name: String): Map[String, (Long, Long)] = {
    val loc = location(name)
    val files = Using.resource(Files.walk(loc.toPath))(
      _.iterator().asScala.map(_.toFile).filter(_.isFile).toList) :+
      new File(loc.getPath + ".__src__")
    files.map(f => f.getPath ->
      (f.length, Files.getLastModifiedTime(f.toPath).toMillis)).toMap
  }

  private def assertServes(name: String, want: DataFrame): Unit = {
    val got = spark.table(name).collect().map(_.toString).sorted.toSeq
    val exp = want.collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == exp, s"$name does not hold its base's rows")
  }

  for (f <- families) {
    test(s"${f.label}: a second ensure on an unchanged base writes nothing") {
      val dir = tempBase(f)
      val names = f.ensure(dir).map(_._1)
      val before = names.map(snapshot)
      assert(before.forall(_.size > 1))
      f.ensure(dir)
      assert(names.map(snapshot) == before,
        "ensure over an unchanged base rewrote the derived table")
    }

    test(s"${f.label}: a rewritten base is rebuilt and served") {
      val dir = tempBase(f)
      f.ensure(dir).foreach { case (name, want) => assertServes(name, want) }
      writeBase(dir, f.bases, 200, high = true)
      f.ensure(dir).foreach { case (name, want) => assertServes(name, want) }
    }

    test(s"${f.label}: a managed location with no catalog entry is swept") {
      val dir = tempBase(f)
      val orphans = f.names(Warehouse.dirTag(dir))
      val junk = orphans.map { name =>
        assert(!spark.catalog.tableExists(name))
        val loc = location(name)
        assert(loc.mkdirs())
        val j = new File(loc, "part-00000-left-by-another-jvm.parquet")
        Files.writeString(j.toPath, "not parquet")
        j
      }
      val built = f.ensure(dir)
      assert(built.map(_._1) == orphans)
      assert(junk.forall(!_.exists()), "the orphaned location was not swept")
      built.foreach { case (name, want) => assertServes(name, want) }
    }
  }

  test("the rebuilt orders summary serves the rewrite rule") {
    val f = families.last
    val dir = tempBase(f)
    f.ensure(dir)
    writeBase(dir, f.bases, 200, high = true)
    val name = plans.SummaryAgg.ensureOrdersSummary(spark, dir)
    def q() = Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(Exact.dec2(col("o_totalprice"))).as("s"))
      .orderBy("o_orderpriority")
    assert(q().queryExecution.executedPlan.toString.contains(name))
    val served = q().collect().toSeq
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try assert(served == q().collect().toSeq)
    finally spark.conf.unset("spark.graft.mv.rewrite")
  }
}
