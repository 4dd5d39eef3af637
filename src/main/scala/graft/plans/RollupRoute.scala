package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Catalyst optimizer rule: automatic materialized-view routing — the
  * ClickHouse materialized-view READ path (the reference's stack keeps
  * rollup MVs next to the raw MergeTree table and queries hit whichever
  * is cheaper; Spark has no equivalent, so this rule supplies it).
  *
  * A rollup table registered for a raw parquet path declares its key
  * columns and its decomposable measures (`cnt` = count(*), plus
  * `sum_<col>` sums). Any logical Aggregate over the RAW relation whose
  * grouping keys are a subset of the rollup keys, whose filters touch
  * only key columns, and whose aggregates are count(*)/sum(measure) is
  * rewritten to the same aggregate over the (orders-of-magnitude
  * smaller) rollup:
  *
  * {{{
  *   count(*)      →  sum(cnt)
  *   sum(x)        →  sum(sum_x)
  *   group by k    →  group by k          (k ⊆ rollup keys)
  *   where p(k)    →  where p(k)          (replayed on rollup keys)
  * }}}
  *
  * Exactness: count/sum are decomposable, the rollup holds complete
  * partial states per key combination, and re-aggregation over any key
  * subset merges them — integer/double sums compute the same values the
  * raw scan would. Output attribute ids are preserved, so parent
  * operators resolve untouched.
  *
  * At 100 TB this turns the daily dashboard family from full-corpus
  * scans into reads of a keys-cardinality table maintained incrementally
  * — by [[graft.store.TraceStore.mergeRollups]], or as a segment store
  * by `TraceStream.followRollup` and read back with
  * `TraceStream.readRollup` — the write side this rule is the read
  * side of. Scope guard: the rewrite only fires for relations explicitly
  * registered in this JVM, and only when
  * `spark.graft.rollupRoute.enabled` is true.
  */
object RollupRoute extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rollupRoute.enabled"

  /** One registered rollup: the rollup relation (re-instanced per use so
    * attribute ids never collide across rewrites), its key column names,
    * the count measure column, and raw-measure → rollup-sum-column map. */
  final case class Reg(rollup: LogicalRelation, keys: Set[String],
                       cntCol: String, sumCols: Map[String, String])

  private val regs = new ConcurrentHashMap[String, Reg]()

  /** Register `rollupDf` (a plain parquet DataFrame of the rollup table)
    * as the routing target for aggregates over `rawPath`. */
  def register(spark: SparkSession, rawPath: String, rollupDf: DataFrame,
               keys: Seq[String], cntCol: String,
               sumCols: Map[String, String]): Unit = {
    val rel = rollupDf.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r
    }.getOrElse(throw new IllegalArgumentException(
      "rollupDf must be a plain file-source relation"))
    regs.put(normalize(rawPath), Reg(rel, keys.toSet, cntCol, sumCols))
    install(spark)
  }

  def clear(): Unit = regs.clear()

  /** Append to an existing session's optimizer (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")

  private def regFor(plan: LogicalPlan): Option[Reg] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      // the relation must be EXACTLY the registered path: a multi-path
      // scan (read.parquet(p1, p2)) contains rows the rollup of one path
      // never saw — rewriting it would silently drop the other paths
      fs.location.rootPaths match {
        case Seq(single) => Option(regs.get(normalize(single.toUri.getPath)))
        case _           => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "false").toBoolean || regs.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(_, _, _, _) =>
        rewrite(agg.asInstanceOf[Aggregate]).getOrElse(agg)
    }
  }

  /** Strip column-pruning Projects and key-only Filters off the path from
    * the Aggregate to the raw relation; returns (filters, relation). */
  private def strip(plan: LogicalPlan): Option[(Seq[Expression], LogicalRelation)] =
    plan match {
      case rel: LogicalRelation => Some((Nil, rel))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        strip(child)
      case Filter(cond, child) =>
        strip(child).map { case (fs, rel) => (cond +: fs, rel) }
      case _ => None
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val Aggregate(ge, ae, child, _) = agg
    for {
      (filters, rawRel) <- strip(child)
      reg <- regFor(rawRel)
      // grouping keys: plain attributes, all rollup keys
      keyAttrs <- seqOpt(ge.map {
        case a: AttributeReference if reg.keys.contains(a.name) => Some(a)
        case _ => None
      })
      // filters may only touch key columns (then they replay exactly on
      // the rollup, where every key combination survives with its state)
      if filters.forall(f => f.deterministic &&
        f.references.forall(r => reg.keys.contains(r.name)))
      rollup = reg.rollup.newInstance()
      byName = rollup.output.map(a => a.name -> a).toMap
      if (reg.keys + reg.cntCol).forall(byName.contains)
      // every output: a grouping key passthrough, or count(*) / sum(x)
      newAe <- seqOpt(ae.map {
        case a: AttributeReference if reg.keys.contains(a.name) =>
          Some(Alias(byName(a.name), a.name)(exprId = a.exprId))
        case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _), name) =>
          // count over empty input is 0, but sum over empty input is NULL
          // — a global count on a fully-filtered slice must still say 0
          Some(Alias(Coalesce(Seq(sumOf(byName(reg.cntCol)), Literal(0L))), name)(
            exprId = al.exprId))
        case al @ Alias(AggregateExpression(Sum(x: AttributeReference, _), Complete, false, None, _), name)
            if reg.sumCols.contains(x.name) && byName.contains(reg.sumCols(x.name)) =>
          Some(Alias(sumOf(byName(reg.sumCols(x.name))), name)(exprId = al.exprId))
        case _ => None
      })
    } yield {
      // map EVERY raw key attribute (grouping keys AND filter-only keys)
      // onto its rollup twin by name
      val keyMap: Map[ExprId, Attribute] =
        rawRel.output.collect {
          case a if reg.keys.contains(a.name) => a.exprId -> byName(a.name)
        }.toMap
      val newFilterChild = filters.foldRight(rollup: LogicalPlan) { (f, p) =>
        Filter(f.transform {
          case a: AttributeReference if keyMap.contains(a.exprId) => keyMap(a.exprId)
        }, p)
      }
      Aggregate(keyAttrs.map(a => byName(a.name)), newAe, newFilterChild)
    }
  }

  private def sumOf(a: Attribute): AggregateExpression =
    AggregateExpression(Sum(a), Complete, isDistinct = false)

  private def seqOpt[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}
