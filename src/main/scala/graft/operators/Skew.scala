package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling for hot keys at cluster scale. AQE's skew-join split covers
  * sort-merge joins; these cover the two shapes AQE doesn't: skewed
  * aggregation and a skewed fact side joined against a replicable dimension.
  *
  * Salting is deterministic (hash-derived), so results stay reproducible.
  */
object Skew {

  /** Bloom-REDUCED join — shuffle hygiene for a selective dimension:
    * build a Bloom filter over the dimension's join keys, prune the
    * fact side MAP-SIDE with it, then run the exact join on the
    * survivors. The result is EXACTLY the plain inner join (the filter
    * can only shed rows with no partner — false positives survive the
    * prefilter just to be dropped by the exact join), but the fact
    * side's exchange shrinks by ~the dimension's selectivity: at a 2%
    * dim, 98% of a 100 TB fact shuffle never happens. This is Spark's
    * runtime-filter idea made explicit, unconditional, and correctly
    * sized (the optimizer's version silently clamps its filter to
    * maxNumBits and goes useless at ~10^7 keys — measured in
    * `bench/bloom_bench_1e7.txt`; the sketch-API build sizes itself from (n, fpp)
    * with no cap, per-partition filters merging up a tree).
    *
    * The dimension is counted once to size the filter (an action on the
    * SMALL side by contract — the same trade `shingleBloom` documents);
    * the filter ships as one broadcast variable of ~1.2 MB per 10^6
    * keys at fpp 1e-4. Joins that broadcast the dim anyway don't need
    * this; it pays when the dim is too big to broadcast but still
    * selective against the fact — exactly the regime AQE can't save. */
  def bloomReducedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, fpp: Double = 1e-4): DataFrame = {
    // NULL keys never join, so dropping them BEFORE the filter build/probe
    // keeps the "exactly the plain inner join" contract (a NULL fact key
    // would NPE the row-lambda probe; a NULL dim key would NPE the build).
    // The key must be integral by type: a silent cast("long") would turn a
    // non-numeric dim key into NULL and crash the build anyway — fail loud.
    def requireIntegral(df: DataFrame, k: String): Unit = {
      import org.apache.spark.sql.types._
      val dt = df.schema(k).dataType
      require(dt == LongType || dt == IntegerType || dt == ShortType ||
        dt == ByteType,
        s"bloomReducedJoin needs an integral join key; $k is $dt")
    }
    requireIntegral(fact, factKey); requireIntegral(dim, dimKey)
    val keys = dim.filter(col(dimKey).isNotNull)
      .select(col(dimKey).cast("long")).distinct()
    val n = math.max(1L, keys.count())
    val bf = keys.rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(n, fpp))(
      (f, row) => { f.putLong(row.getLong(0)); f },
      (a, b) => { a.mergeInPlace(b); a })
    val bfB = fact.sparkSession.sparkContext.broadcast(bf)
    val pruned = fact.filter(col(factKey).isNotNull)
      .filter((r: org.apache.spark.sql.Row) =>
        bfB.value.mightContainLong(
          r.getAs[Number](r.fieldIndex(factKey)).longValue()))
    pruned.join(dim, pruned(factKey) === dim(dimKey))
  }

  /** SKETCH-DRIVEN salting plan — the decision [[saltedAgg]] needs,
    * priced from fixed sketch state instead of a full scan: for each
    * candidate key, its count-min estimate and the number of salts that
    * keeps any single reducer's share of that key under one balanced
    * partition's worth, `salts = min(ceil(est / T), parts)` with
    * `T = ceil(total / parts)`. Everything is exact integer arithmetic
    * over the (≤ depth×width)-row sketch plus one count — at 100 TB the
    * planner reads ~4 KB of maintained sketch (q198) and a running
    * total, touches no data, and emits the per-key salt factors before
    * committing to the shuffle. Count-min never undercounts, so a salt
    * factor is never too small for a true hot key — estimates can only
    * over-salt, which costs a few extra partials, not a hot reducer.
    *
    * Returns `(key, n_cm, salts)` for every candidate key. Candidates
    * come from the caller (exact vocabulary at test scale; the
    * maintained heavy-hitter probe at corpus scale — q192's shape). */
  def saltPlanFromSketch(cells: DataFrame, keys: DataFrame, key: String,
      depth: Int, width: Int, parts: Int): DataFrame = {
    require(parts >= 1, s"need parts >= 1, got $parts")
    val total = cells.where(col("d") === 0).agg(sum("cnt").as("__total"))
    val est = graft.operators.Sketch.cmEstimate(cells, keys, key, depth, width)
    val t = graft.operators.Graph.idiv(
      col("__total") + lit(parts - 1), lit(parts.toLong))
    est.crossJoin(broadcast(total))
      .select(col(key),
        col("n_cm"),
        least(graft.operators.Graph.idiv(col("n_cm") + t - 1, t),
          lit(parts.toLong)).as("salts"))
  }

  /** One aggregate in a salted two-phase plan: `partial` runs per
    * (key, salt), `fin` recombines partials per key — e.g. sum/sum,
    * count/sum, max/max. */
  final case class SaltedAgg(
      valueCol: String,
      partial: Column => Column,
      fin: Column => Column,
      as: String)

  /** Two-phase salted aggregation: a hot group key is split across
    * `numSalts` sub-keys for the partial aggregate, then re-combined. Only
    * the (tiny) per-(key, salt) partials cross the second shuffle, so no
    * single reducer ever sees a hot key's full row set.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      saltSource: Column,
      numSalts: Int,
      aggs: Seq[SaltedAgg]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltSource), lit(numSalts)))
    val partial = salted
      .groupBy(key.as("key"), col("__salt"))
      .agg(aggs.head.partial(col(aggs.head.valueCol)).as("__p0"),
        aggs.tail.zipWithIndex.map { case (a, i) =>
          a.partial(col(a.valueCol)).as(s"__p${i + 1}")
        }: _*)
    partial
      .groupBy(col("key"))
      .agg(aggs.head.fin(col("__p0")).as(aggs.head.as),
        aggs.tail.zipWithIndex.map { case (a, i) =>
          a.fin(col(s"__p${i + 1}")).as(a.as)
        }: _*)
  }

  /** Salted join of a skewed fact table against a small dimension: the fact
    * side gets a deterministic salt in [0, numSalts); the dimension is
    * replicated once per salt (cheap — the dim is small), and the join key
    * becomes (key, salt), so every salt bucket of a hot key lands on a
    * different reducer.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      numSalts: Int,
      saltSource: Column): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(hash(saltSource), lit(numSalts)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }
}
