package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Divide, EvalMode, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.sources.Warehouse

/** Transparent materialized-aggregate (summary-table) rewrite — the
  * classic OLAP engine feature: a pre-aggregated table at a declared
  * grain silently answers any query that groups by a SUBSET of that
  * grain and asks only for re-aggregable measures. At 100 TB the win is
  * structural: the nightly dashboard family that would each scan the
  * full fact re-aggregates a grain-sized table instead — the fact is
  * scanned once at refresh, not once per query.
  *
  * Soundness rests on algebraic re-aggregation: `count(*)` over the base
  * equals `sum(cnt)` over the summary, `sum(x)` equals `sum(sum_x)`, and
  * a filter whose references are all grain columns is constant within
  * each summary row, so it commutes with the pre-aggregation. Measures
  * are DECIMAL sums (the repo-wide exactness rule), so the rewritten
  * result is bit-identical, not approximately equal — the oracle
  * comparison of the rewritten query IS the proof.
  *
  * Covered aggregates: `count(literal)` (= sum of per-group counts),
  * `sum(CAST(col AS DECIMAL(18,2)))` (= sum of per-group decimal sums),
  * `min(col)` / `max(col)` (= min/max of per-group mins/maxs — exact with
  * no decimal routing because no arithmetic is performed), and
  * `avg(CAST(col AS DECIMAL(18,2)))`. Average is rebuilt as the EXACT
  * expression shape Spark's own Average produces for a decimal child —
  * Divide(sum AS DECIMAL(28,2), count AS DECIMAL(20,0)) rounded at scale
  * 12, then cast to the DECIMAL(22,6) result — so the served value is
  * bit-identical to the unrewritten plan, double rounding included.
  *
  * The rule is deliberately conservative (all-or-nothing per Aggregate):
  * it fires only when the child chain is [Project]([Filter](base-scan)),
  * every grouping expression is a grain column, the filter references
  * only grain columns, and every aggregate is covered — anything else
  * (distinct, filtered aggs, expression group keys) leaves the plan
  * untouched.
  */
object SummaryAgg {

  /** One summary table over the corpus fact `base`: grouped by `grain`,
    * it holds the row count `cnt`, the exact-decimal `sum_<m>` of every
    * measure m, then `min_<m>`, `max_<m>` per measure, in that column
    * order. The build, the IVM delta and merge, and the rewrite rule's
    * column lookups all derive from this one declaration. */
  private[plans] case class Summary(base: String, grain: Seq[String],
                                    measures: Seq[String]) {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

    // v2: schema grew min/max columns. Versioning the name (instead of
    // migrating in place) means a summary built by an older JVM in the
    // shared warehouse dir can never be half-served with missing columns.
    def table(dir: String): String =
      s"graft_mv2_${base}_${Warehouse.dirTag(dir)}"

    def source(dir: String): java.io.File =
      new java.io.File(dir, s"$base.parquet")

    /** The summary column holding `kind` ("sum", "min" or "max") of base
      * column `m`, when `m` is a measure. */
    def column(kind: String, m: String): Option[String] =
      Option.when(measures.contains(m))(named(kind, m))

    private def named(kind: String, m: String): String = s"${kind}_$m"

    /** Base rows aggregated to the grain: the build and the IVM delta. */
    def aggregate(rows: DataFrame): DataFrame =
      atGrain(rows, count(lit(1)).as(cnt),
        m => sum(graft.Exact.dec2(col(m))), (_, m) => m)

    /** Summary rows re-aggregated to the grain: the IVM merge. Count and
      * decimal sum are self-merging (cast back to the build's types);
      * min/max fold as min-of-mins / max-of-maxs, which is sound for
      * APPEND deltas only (none of this sink's callers delete). */
    def merge(rows: DataFrame): DataFrame =
      atGrain(rows, sum(col(cnt)).cast(LongType).as(cnt),
        m => sum(col(named("sum", m))).cast(DecimalType(28, 2)), named)

    private def atGrain(rows: DataFrame, rowCount: Column,
                        sumOf: String => Column,
                        extremeOf: (String, String) => String): DataFrame = {
      val sums = measures.map(m => sumOf(m).as(named("sum", m)))
      val extremes = measures.flatMap(m => Seq(
        min(extremeOf("min", m)).as(named("min", m)),
        max(extremeOf("max", m)).as(named("max", m))))
      rows.groupBy(grain.map(col): _*).agg(rowCount, sums ++ extremes: _*)
    }
  }

  private[plans] val cnt = "cnt"

  /** The lineitem daily-ops summary, the one [[appendLineitemDelta]]
    * maintains incrementally. */
  private val lineitem = Summary("lineitem",
    Seq("l_returnflag", "l_linestatus"),
    Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** A second summary over a DIFFERENT base table: the rule's registry
    * is keyed by base path, so grain tables for any number of facts
    * coexist and each covered Aggregate is served from its own.
    * Serve-only: no IVM path. */
  private val orders = Summary("orders",
    Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice"))

  /** A registered summary: its resolved relation and declaration. */
  private[plans] case class Mv(rel: LogicalRelation, sm: Summary)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Mv]()

  /** Register the built table `name` as the summary `sm` of `dir`'s
    * base. The relation is resolved eagerly so the optimizer rule never
    * triggers nested analysis. */
  private def register(s: SparkSession, dir: String, sm: Summary,
                       name: String): Unit = {
    val rel = s.table(name).queryExecution.analyzed
      .collectFirst { case r: LogicalRelation => r }
      .getOrElse(sys.error(s"$name did not resolve to a file relation"))
    registry.put(sm.source(dir).getAbsolutePath, Mv(rel, sm)): Unit
  }

  private[plans] def find(path: String): Option[Mv] =
    Option(registry.get(path))

  /** The lineitem summary of `dir`, built once per corpus into the
    * warehouse and registered so the rewrite rule serves matching
    * aggregates from it.
    *
    * Staleness: the content tag is checked on the FIRST ensure in this
    * JVM only; after that the summary is trusted. The reason is the IVM
    * path: [[appendLineitemDelta]] folds a delta into the summary that
    * its caller also appends to the base fact, before or after the fold.
    * A re-check would see the grown base, rebuild the summary from it,
    * and the fold would then count the delta a second time. A summary
    * left by an older JVM is not in this JVM's session catalog, so
    * [[Warehouse.derived]] sweeps its location and rebuilds it. A
    * rebuild sweeps the applied-batch marker history; maintenance
    * streams must restart from a fresh checkpoint after a base
    * regeneration, the standard contract for rebuilding a downstream
    * sink. */
  def ensureLineitemSummary(s: SparkSession, dir: String): String =
    ensure(s, dir, lineitem, trust = true)

  /** The orders summary of `dir`. Nothing folds deltas into it, so every
    * ensure checks its content tag, as for the other derived tables. */
  def ensureOrdersSummary(s: SparkSession, dir: String): String =
    ensure(s, dir, orders, trust = false)

  /** Summaries whose tag was checked once in this JVM and which are
    * trusted from then on (see [[ensureLineitemSummary]]). */
  private val trusted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ensure(s: SparkSession, dir: String, sm: Summary,
                     trust: Boolean): String = {
    val name = sm.table(dir)
    Warehouse.monitor(name).synchronized {
      Warehouse.derived(s, name, sm.source(dir),
          checkTag = !trusted.contains(name)) { n =>
        // a rebuild must read the base: while the dropped summary is
        // still registered, the rule would rewrite this very aggregate
        // onto it
        registry.remove(sm.source(dir).getAbsolutePath)
        sweepMarkers(s, n)
        sm.aggregate(graft.Tables.load(s, dir, sm.base))
          .write.format("parquet").mode("overwrite").saveAsTable(n)
      }
      if (trust) trusted.add(name)
      register(s, dir, sm, name)
    }
    name
  }

  private def sweepMarkers(s: SparkSession, name: String): Unit =
    Option(Warehouse.dir(s).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"${name}_applied_"))
      .foreach(_.delete())

  /** Incremental view maintenance: fold a delta batch of fact rows into
    * the summary WITHOUT rescanning the fact. The delta aggregates at
    * the grain, merges with the stored summary by decimal addition
    * (count and sum are the self-merging aggregates — the same algebra
    * that makes map-side partial aggregation correct makes summary
    * maintenance exact), and the grain-sized result replaces the table.
    * At 100 TB this is the whole point of the summary: the nightly load
    * touches |delta| + |grain| rows, never the fact.
    *
    * `batchId` makes redelivery safe: merging the same delta twice would
    * double-count, so an applied-batch marker (kept OUTSIDE the table
    * directory, which the overwrite replaces) turns re-applies into
    * no-ops — the exactly-once contract [[maintainLineitemSummary]]
    * needs under streaming restart. Markers are namespaced by `scope`
    * (the maintenance sink id, or "adhoc"): batch ids are only unique
    * within ONE streaming checkpoint, and an unscoped marker would let a
    * second stream's batch 0 silently skip behind the first's. */
  def appendLineitemDelta(s: SparkSession, dir: String,
                          delta: DataFrame,
                          batchId: Option[Long] = None,
                          scope: String = "adhoc"): Unit = {
    val name = lineitem.table(dir)
    // read–merge–overwrite is lost-update-prone: two concurrent appends
    // (a maintain() stream plus an ad-hoc batch, or two streams) could
    // both read the same base state and the second overwrite would drop
    // the first delta. The table's Warehouse monitor serializes writers
    // in this JVM — ensure runs INSIDE it so two first-ever appends
    // cannot race the build either; across processes the single-writer
    // assumption is MergeWriter's documented contract (SQLite-equivalent
    // in the reference), which this sink inherits.
    Warehouse.monitor(name).synchronized {
      ensureLineitemSummary(s, dir) // reentrant: same monitor
      appendLocked(s, dir, name, delta, batchId, scope)
    }
  }

  private def appendLocked(s: SparkSession, dir: String, name: String,
                           delta: DataFrame,
                           batchId: Option[Long], scope: String): Unit = {
    val safeScope = scope.replaceAll("[^A-Za-z0-9_-]", "_")
    val mark = batchId.map(id => new java.io.File(Warehouse.dir(s),
      s"${name}_applied_${safeScope}_$id"))
    if (mark.exists(_.exists())) return
    val merged =
      lineitem.merge(s.table(name).unionByName(lineitem.aggregate(delta)))
        // the merge reads the table it is about to overwrite: truncate
        // lineage so the write never re-scans the replaced files
        .localCheckpoint(true)
    merged.write.format("parquet").mode("overwrite").saveAsTable(name)
    merged.unpersist(): Unit
    mark.foreach(_.createNewFile())
    // both the catalog's relation cache and the registered relation hold
    // the PRE-overwrite file listing — refresh, then re-resolve
    s.catalog.refreshTable(name)
    register(s, dir, lineitem, name)
  }

  /** Streaming maintenance: every micro-batch of fact rows folds into
    * the summary through [[appendLineitemDelta]], keyed by (sinkId,
    * batchId) so redelivered batches are no-ops. `sinkId` must be stable
    * across restarts of the SAME checkpoint (batch ids continue there)
    * and distinct between different maintenance streams (each restarts
    * its ids from 0 — an unscoped id would collide). */
  def maintainLineitemSummary(deltas: DataFrame,
                              dir: String, sinkId: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fold using the stream-OWNING session, not the micro-batch clone:
    // the relation cache is per-session, and a refresh inside the clone
    // would leave the owner still holding the pre-overwrite file listing
    val owner = deltas.sparkSession
    deltas.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty)
          appendLineitemDelta(owner, dir, b, Some(id), scope = sinkId)
      }
      .start()
  }
}

object SummaryAggRewrite extends Rule[LogicalPlan] {

  import SummaryAgg.Mv

  /** [Project(plain attrs)]([Filter](LogicalRelation)) → the relation
    * plus the optional filter condition. */
  private def baseOf(p: LogicalPlan)
      : Option[(LogicalRelation, Option[Expression])] = p match {
    case r: LogicalRelation => Some((r, None))
    case Filter(c, r: LogicalRelation) => Some((r, Some(c)))
    case Project(pl, r: LogicalRelation)
        if pl.forall(_.isInstanceOf[AttributeReference]) => Some((r, None))
    case Project(pl, Filter(c, r: LogicalRelation))
        if pl.forall(_.isInstanceOf[AttributeReference]) => Some((r, Some(c)))
    case _ => None
  }

  private def scanPath(r: LogicalRelation): Option[String] =
    r.relation match {
      case f: HadoopFsRelation =>
        f.location.rootPaths.headOption.map(_.toUri.getPath)
      case _ => None
    }

  /** Rewrite one AggregateExpression onto the summary columns, or None
    * if it is not covered. */
  private def rewriteAgg(ae: AggregateExpression, mv: Mv,
                         attr: String => Option[AttributeReference])
      : Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    ae.aggregateFunction match {
      case c: Count =>
        c.children match {
          case Seq(Literal(v, _)) if v != null =>
            // count over the base = sum of per-group counts; an empty
            // global aggregate must still yield 0, not sum's null
            attr(SummaryAgg.cnt).map(a => Coalesce(Seq(
              Sum(a).toAggregateExpression(), Literal(0L, LongType))))
          case _ => None
        }
      case s: Sum =>
        s.child match {
          case Cast(base: AttributeReference, dt: DecimalType, _, _)
              if dt == DecimalType(18, 2) =>
            for {
              mvCol <- mv.sm.column("sum", base.name)
              a <- attr(mvCol)
            } yield Cast(Sum(a).toAggregateExpression(), ae.dataType)
          case _ => None
        }
      // min over the base = min of the per-group mins (dually for max).
      // No decimal routing needed: no arithmetic is performed, so the
      // served value is the same stored double bit pattern.
      case m: Min =>
        m.child match {
          case base: AttributeReference =>
            for { mvCol <- mv.sm.column("min", base.name); a <- attr(mvCol) }
              yield Min(a).toAggregateExpression()
          case _ => None
        }
      case m: Max =>
        m.child match {
          case base: AttributeReference =>
            for { mvCol <- mv.sm.column("max", base.name); a <- attr(mvCol) }
              yield Max(a).toAggregateExpression()
          case _ => None
        }
      // avg over the base = sum(sum_x) / sum(cnt), rebuilt as the EXACT
      // expression shape Average itself produces for a DECIMAL(18,2)
      // child: Divide(sum: DECIMAL(28,2), count: DECIMAL(20,0)) — which
      // resolves to a scale-12 quotient — then a cast to the
      // DECIMAL(22,6) result. Reproducing the intermediate types
      // reproduces the rounding (including the double rounding at scales
      // 12 then 6), so the rewrite is bit-identical, not just close.
      // The down-cast of the summary's DECIMAL(38,2) re-sum to (28,2)
      // is value-preserving whenever the original query's own (28,2)
      // sum buffer would not have overflowed.
      case a: Average =>
        a.child match {
          case Cast(base: AttributeReference, dt: DecimalType, _, _)
              if dt == DecimalType(18, 2) =>
            for {
              mvCol <- mv.sm.column("sum", base.name)
              sumA <- attr(mvCol)
              cntA <- attr(SummaryAgg.cnt)
            } yield {
              val sumAgg = Cast(Sum(sumA).toAggregateExpression(),
                DecimalType(28, 2))
              val cntAgg = Cast(Sum(cntA).toAggregateExpression(),
                DecimalType(20, 0))
              Cast(Divide(sumAgg, cntAgg, EvalMode.LEGACY), ae.dataType)
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** Rewrite a full output expression: aggregates map via [[rewriteAgg]],
    * bare attributes must be grain columns, and any deterministic scalar
    * structure around them (casts, arithmetic) is preserved. */
  private def rewriteExpr(e: Expression, mv: Mv,
                          attr: String => Option[AttributeReference])
      : Option[Expression] = e match {
    case ae: AggregateExpression => rewriteAgg(ae, mv, attr)
    case a: AttributeReference =>
      if (mv.sm.grain.contains(a.name)) attr(a.name) else None
    case _ if e.deterministic =>
      val kids = e.children.map(rewriteExpr(_, mv, attr))
      if (kids.forall(_.isDefined)) Some(e.withNewChildren(kids.map(_.get)))
      else None
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      (rel, cond) <- baseOf(agg.child)
      path <- scanPath(rel)
      mv <- SummaryAgg.find(path)
      // every group key is a grain column; the filter touches grain only
      if agg.groupingExpressions.forall {
        case a: AttributeReference => mv.sm.grain.contains(a.name)
        case _ => false
      }
      if cond.forall(c => c.deterministic && c.references.forall(a =>
        mv.sm.grain.contains(a.name)))
      mvRel = mv.rel.newInstance()
      mvAttr = (n: String) => mvRel.output.find(_.name == n)
      outs <- {
        val rewritten = agg.aggregateExpressions.map {
          case a: AttributeReference =>
            mvAttr(a.name).filter(_ => mv.sm.grain.contains(a.name))
              .map(m => Alias(m, a.name)(exprId = a.exprId))
          case al @ Alias(child, name) =>
            rewriteExpr(child, mv, mvAttr)
              .map(c => Alias(c, name)(exprId = al.exprId))
          case _ => None
        }
        if (rewritten.forall(_.isDefined))
          Some(rewritten.map(_.get.asInstanceOf[NamedExpression]))
        else None
      }
      groups <- {
        val gs = agg.groupingExpressions.map {
          case a: AttributeReference => mvAttr(a.name)
          case _ => None
        }
        if (gs.forall(_.isDefined)) Some(gs.map(_.get)) else None
      }
      newCond <- cond match {
        case None => Some(None)
        case Some(c) =>
          var ok = true
          val mapped = c.transformUp {
            case a: AttributeReference =>
              mvAttr(a.name).getOrElse { ok = false; a }
          }
          if (ok) Some(Some(mapped)) else None
      }
    } yield {
      val child: LogicalPlan =
        newCond.map(Filter(_, mvRel): LogicalPlan).getOrElse(mvRel)
      Aggregate(groups, outs, child)
    }
  }

  /** Kill switch (`spark.graft.mv.rewrite=false`): lets specs price the
    * un-rewritten plan and callers opt out of summary serving. */
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.mv.rewrite", "true").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
}
