package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, CollationFactory}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Prunes a key lookup on a CDC state to the key's bucket.
  *
  * The state is laid out in `state_bucket = Stream.bucketOf(keys, N)`
  * partitions, so a filter holding `key = literal` for every key can only
  * match rows of one bucket. On a `Filter` directly over a state relation
  * read by [[Stream.readCurrentState]], this rule appends
  * `state_bucket = <bucket of those literals>`; the planner turns that
  * conjunct into a partition filter, and the scan lists one bucket. It
  * runs in the optimizer's user batch, after `PruneFileSourcePartitions`,
  * so the pruning happens in `FileSourceStrategy`'s partition filters.
  *
  * It leaves the plan alone unless every key has such an equality, each
  * literal non-null and of the key's exact type, and the key's type is
  * one where `=` implies equal hashed bytes: integral, decimal, date,
  * timestamp, boolean, binary and binary-equality strings. A float or
  * double key (`0.0 = -0.0`, NaN) or a collated string (`UTF8_LCASE`
  * equality ignores case, the hash does not) is never pruned. A condition
  * that already names `state_bucket` is left alone too, which keeps the
  * rule idempotent in its fixed-point batch and a caller's own bucket
  * filter as written. `IN` lists and ranges are not pruned.
  */
object StateBucketPruning extends Rule[LogicalPlan] with PredicateHelper {

  /** Reader options carrying the state's bucket count and its keys (a
    * JSON array). Set only by [[Stream.readCurrentState]], from the
    * state's `_state` file; they are not a user setting.
    */
  val BucketsOption = "graft.state.buckets"
  val KeysOption = "graft.state.keys"

  /** Registers the rule once per session. Synchronized:
    * `extraOptimizations` is a bare read-modify-write, and two concurrent
    * first reads could both pass the check and register twice.
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!em.extraOptimizations.contains(this))
      em.extraOptimizations = em.extraOptimizations :+ this
  }

  /** True where `a = b` implies equal bytes under the hash. */
  private def hashesByValue(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType | DateType |
        TimestampType | TimestampNTZType | BooleanType | BinaryType => true
    case s: StringType => CollationFactory.fetchCollation(s.collationId).supportsBinaryEquality
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation) if cond.deterministic =>
      l.relation match {
        case fs: HadoopFsRelation => bucketConjunct(cond, l, fs).fold(f)(b => f.copy(condition = And(cond, b)))
        case _ => f
      }
  }

  private def bucketConjunct(cond: Expression, l: LogicalRelation, fs: HadoopFsRelation): Option[Expression] = {
    val opts = CaseInsensitiveMap(fs.options)
    for {
      n <- opts.get(BucketsOption).map(_.toInt)
      bucket <- l.output.find(a => a.name == Stream.BucketCol && a.dataType == IntegerType)
      if !cond.references.contains(bucket)
      keys <- opts.get(KeysOption).map(Stream.keysFromJson)
      conjuncts = splitConjunctivePredicates(cond)
      literals = keys.flatMap(k => l.output.find(a => conf.resolver(a.name, k)).flatMap(literalFor(_, conjuncts)))
      if literals.size == keys.size
    } yield EqualTo(bucket, Literal(Stream.bucketOf(literals, n).eval(), IntegerType))
  }

  /** The literal of a `key = literal` conjunct, either way round. */
  private def literalFor(key: Attribute, conjuncts: Seq[Expression]): Option[Literal] = {
    def fits(v: Literal) = v.value != null && v.dataType == key.dataType && hashesByValue(key.dataType)
    conjuncts.collectFirst {
      case EqualTo(a: Attribute, v: Literal) if a.semanticEquals(key) && fits(v) => v
      case EqualTo(v: Literal, a: Attribute) if a.semanticEquals(key) && fits(v) => v
    }
  }
}
