package graft.operators

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, In, InSet, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, StringType}

/** Key-to-bucket pruning for [[PartitionedSnapshot]] reads — what Spark's
  * own bucket pruning does for `bucketBy` tables, for a layout whose
  * buckets are partition directories.
  *
  * A scan tagged by [[PartitionedSnapshot.read]] (reader options
  * [[PartitionedSnapshot.KeyOption]] and
  * [[PartitionedSnapshot.BucketsOption]]) under a filter with a conjunct
  * `key = lit`, `lit = key` or `key IN (lits)` gains the conjunct
  * `id_bucket IN (b…)`, each `b` the write's own [[PartitionedSnapshot.bucketOf]]
  * evaluated on a literal. `FileSourceStrategy` turns it into a partition
  * filter, so the scan opens only those buckets' files.
  *
  * It fires only when the result cannot change:
  *  - the key is the bare attribute and every literal has exactly its
  *    type, so the predicate compares the values the write hashed;
  *  - the key's equality is binary (a non-binary collation can call two
  *    differently hashed strings equal);
  *  - the bucket column is a partition column (an empty snapshot has
  *    none);
  *  - no conjunct already constrains the bucket column, which also makes
  *    the rule idempotent.
  *
  * NULL literals match no row and add no bucket.
  */
object BucketPruning extends Rule[LogicalPlan] with PredicateHelper {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(FILTER)) {
      case f @ Filter(cond, rel: LogicalRelation) =>
        bucketPredicate(cond, rel).fold(f)(p => Filter(And(cond, p), rel))
    }

  private def bucketPredicate(cond: Expression, rel: LogicalRelation): Option[Expression] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        for {
          key <- fs.options.get(PartitionedSnapshot.KeyOption)
          n <- fs.options.get(PartitionedSnapshot.BucketsOption).map(_.toInt)
          bucket <- rel.output.find(_.name == PartitionedSnapshot.BucketCol)
          if fs.partitionSchema.fieldNames.contains(bucket.name)
          keyAttr <- rel.output.find(_.name == key)
          conjuncts = splitConjunctivePredicates(cond)
          if !conjuncts.exists(_.references.contains(bucket))
          lits <- conjuncts.iterator.flatMap(keyLiterals(_, keyAttr)).nextOption()
        } yield {
          val bs = lits.map(PartitionedSnapshot.bucketOfLiteral(_, n)).distinct.sorted
            .map(b => Literal(Cast(Literal(b), bucket.dataType).eval(), bucket.dataType))
          if (bs.size == 1) EqualTo(bucket, bs.head) else In(bucket, bs)
        }
      case _ => None
    }

  /** The non-null literals of a key conjunct, or None when the conjunct
    * is not one the rule may prune on. */
  private def keyLiterals(e: Expression, key: Attribute): Option[Seq[Literal]] = {
    val lits = e match {
      case EqualTo(a: Attribute, l: Literal) if a.semanticEquals(key) => Seq(l)
      case EqualTo(l: Literal, a: Attribute) if a.semanticEquals(key) => Seq(l)
      case In(a: Attribute, ls) if a.semanticEquals(key) && ls.forall(_.isInstanceOf[Literal]) =>
        ls.map(_.asInstanceOf[Literal])
      case InSet(a: Attribute, vs) if a.semanticEquals(key) =>
        vs.toSeq.map(Literal(_, a.dataType))
      case _ => Nil
    }
    val values = lits.filter(_.value != null)
    if (values.nonEmpty && binaryEquality(key.dataType) && lits.forall(_.dataType == key.dataType))
      Some(values)
    else None
  }

  private def binaryEquality(t: DataType): Boolean = t match {
    case s: StringType => s == StringType
    case _ => true
  }
}
