package graft.plans

import scala.annotation.tailrec
import scala.collection.mutable

import graft.functions.{GraftTermCounts, TextHashKernels}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, BindReferences, Explode, ExprId, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, GENERATE}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.types.UTF8String

/** `(term, tf)` of the documents `text` of one partition of `child`, each
  * term once per partition with its tf summed over the partition (once more
  * after each cap flush, see [[TextHashKernels.TermTable]]). `output` is
  * the replaced `explode(graft_term_counts(text))`'s (key, value) pair, so
  * the plan above it is unchanged. */
case class PartitionTermCounts(text: Expression, output: Seq[Attribute],
                               child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): PartitionTermCounts = copy(child = newChild)
}

/** Optimizer rule: in-mapper combining for term sums.
  *
  * `Aggregate(group by word, only sum(tf))` over
  * `Generate(explode(graft_term_counts(text)), outer = false)` explodes
  * one row per (document, distinct term) into the partial aggregate. The
  * rule replaces the `Generate` with [[PartitionTermCounts]], which counts
  * the terms of a whole partition in one table and emits each once;
  * Spark's partial aggregate, exchange and final aggregate stay above it,
  * so the sum stays exact. Between the two there may be column-only
  * `Project`s and filters that read the term alone (a filter on the
  * grouping key, pushed below the aggregate, keeps or drops a term's rows
  * all together, so it commutes with the partition sum). Anything else
  * over the explode — `count(*)`, `avg(tf)`, a second grouping key, a
  * filter on `tf`, `explode_outer`, another generator — is left alone.
  * Registered like [[LevenshteinThresholdRule]]; planned by
  * [[PartitionTermCountsStrategy]]. */
object PartitionTermCountsRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(AGGREGATE, GENERATE)) {
      case a @ Aggregate(Seq(word: Attribute), aggs, child, _) =>
        rewrite(word, aggs, child).fold(a)(c => a.copy(child = c))
    }

  private def rewrite(word: Attribute, aggs: Seq[Expression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    // walk down to the explode, recording each Project's renames, the
    // columns each step reads, and the Filters' conditions
    val renames = mutable.Map.empty[ExprId, Attribute]
    val read = mutable.ArrayBuffer.empty[Attribute]
    val conditions = mutable.ArrayBuffer.empty[Expression]
    var p = child
    while (!p.isInstanceOf[Generate]) p match {
      case Project(list, c) if list.forall(isColumn) =>
        list.foreach {
          case al @ Alias(a: Attribute, _) => renames(al.exprId) = a; read += a
          case a: Attribute => read += a
        }
        p = c
      case Filter(cond, c) if cond.deterministic =>
        conditions += cond
        p = c
      case _ => return None
    }
    @tailrec def source(a: Attribute): ExprId = renames.get(a.exprId) match {
      case Some(b) => source(b)
      case None => a.exprId
    }
    p match {
      case gen @ Generate(Explode(GraftTermCounts(text)), _, false, _,
          out @ Seq(key, value), genChild) if text.deterministic =>
        val sums = aggs.flatMap(_.collect { case e: AggregateExpression => e })
        val onlySumTf = sums.nonEmpty && sums.forall {
          case AggregateExpression(Sum(tf: Attribute, _), Complete, false,
              None, _) => source(tf) == value.exprId
          case _ => false
        }
        val keyOnlyFilters = conditions.forall(
          _.references.forall(a => source(a) == key.exprId))
        val readsOk = read.forall(a => out.exists(_.exprId == source(a)))
        if (onlySumTf && keyOnlyFilters && readsOk &&
            source(word) == key.exprId) {
          val node = PartitionTermCounts(text, out, genChild)
          Some(child.transformUp { case g if g eq gen => node })
        } else None
      case _ => None
    }
  }

  private def isColumn(e: Expression): Boolean = e match {
    case _: Attribute => true
    case Alias(_: Attribute, _) => true
    case _ => false
  }
}

/** Plans [[PartitionTermCounts]] as [[PartitionTermCountsExec]]. */
object PartitionTermCountsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionTermCounts(text, output, child) =>
      PartitionTermCountsExec(text, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** One [[TextHashKernels.TermTable]] per partition: every non-null `text`
  * of the partition is counted into it; its entries are emitted when it is
  * full (a flush, counted in `numFlushes`) and when the input ends. Rows
  * are copied out through an `UnsafeProjection`, so the table's arena is
  * reused after a flush. */
case class PartitionTermCountsExec(text: Expression, output: Seq[Attribute],
                                   child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext,
      "number of table flushes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    val textOf = BindReferences.bindReference(text, child.output)
    val types = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val table = new TextHashKernels.TermTable
      val project = UnsafeProjection.create(types)
      val entry = new GenericInternalRow(2)
      var e = 0 // next entry to emit

      /** Counts until the table is full or the input ends; whether there
        * are entries to emit. */
      def fill(): Boolean = {
        while (!table.full) {
          if (table.pending) table.resume()
          else if (rows.hasNext) {
            val s = textOf.eval(rows.next()).asInstanceOf[UTF8String]
            if (s != null) table.add(s)
          } else return table.size > 0
        }
        numFlushes += 1
        true
      }

      new Iterator[InternalRow] {
        override def hasNext: Boolean =
          e < table.size || { table.reset(); e = 0; fill() }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          entry.update(0, table.key(e))
          entry.setLong(1, table.count(e))
          e += 1
          numOutputRows += 1
          project(entry)
        }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PartitionTermCountsExec = copy(child = newChild)
}
