package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL registration for Spark's OWN bloom-filter expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are the pair the
  * optimizer's runtime-filter rule (InjectRuntimeFilter) plants inside
  * shuffle joins — build a compact bitset over the small side's join keys,
  * evaluate `might_contain` map-side on the big side's scan so rows that
  * cannot match never reach the exchange. Spark ships them analyzer-only:
  * neither is in the public FunctionRegistry, so a user cannot spell the
  * sketch-prefilter shape explicitly. Registering them (the kmv_sketch /
  * freq_sketch move) makes it a first-class query pattern:
  *
  *   WHERE might_contain((SELECT bloom_agg(xxhash64(k)) FROM small),
  *                       xxhash64(k))
  *
  * `bloom_agg(v[, est_items[, num_bits]])` over LONG values (hash first —
  * the optimizer always feeds it xxhash64, and so do we); defaults come
  * from the runtime-filter confs (1M items / 8M bits ≈ a 1 MB bitset —
  * the broadcast-cost ceiling a 1000-executor cluster is happy to pay).
  * `might_contain(bloom, v)` requires the bloom side to be foldable or a
  * scalar subquery — enforced by the expression's own type check, which
  * is exactly what keeps the pattern scale-safe: the bitset is built ONCE
  * and shipped, never joined. */
object BloomFunctions {

  /** `bloom_agg`'s builder in [[Functions.table]]: 1-3 arguments. */
  def bloomAgg(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(v)            => new BloomFilterAggregate(v)
    case Seq(v, est)       => new BloomFilterAggregate(v, est)
    case Seq(v, est, bits) => new BloomFilterAggregate(v, est, bits)
    case _ => throw new IllegalArgumentException(
      s"bloom_agg expects 1-3 arguments, got ${exprs.length}")
  }
}
