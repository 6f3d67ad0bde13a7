package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot grouping keys (the reference's org-skew
  * rule: top 5% orgs ≈ 50% of order volume, reference
  * `data_gen/pseudo_code_rules.txt:2-10`).
  *
  * AQE's automatic skew-join split is far narrower than advertised —
  * measured (NOTES_r08): it only fires when the join
  * is the TERMINAL stage of the query; any downstream consumer, even
  * a distribution-agnostic global count, suppresses it, and a skewed
  * AGGREGATION was never its territory at all. Salting splits each
  * key into `saltBuckets` sub-keys for a partial aggregate/join, then
  * re-aggregates the tiny partials — every exchange balanced, and the
  * plan is deterministic instead of runtime-dependent.
  *
  * Only works for algebraic aggregates (sum/count/min/max — anything
  * with a merge step). The helpers here cover the common money cases;
  * arbitrary merges follow the same shape.
  */
object Skew {

  /** Salted sum+count per key: `df.groupBy(key).agg(sum(value),
    * count(*))` with balanced reducers. The salt is derived from the
    * row's DATA (hash of every input column), so it is stable under
    * stage retry — `rand()`, `spark_partition_id`, and
    * `monotonically_increasing_id` all change when a lost partition is
    * recomputed with different placement/order, which can double-count
    * or drop rows mid-shuffle. Identical rows share a salt, which only
    * hurts balance if a hot KEY is also a single repeated row. */
  def saltedSumCount(df: DataFrame, keyCols: Seq[String], value: Column,
      sumName: String, countName: String,
      saltBuckets: Int = 32): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__psum")).as(sumName),
        sum(col("__pcnt")).cast("long").as(countName))
  }

  /** Salted equi-join for skewed fact keys: the fact side gets a
    * data-derived salt in [0, saltBuckets); the dim side is REPLICATED
    * once per salt value; the join runs on (keys..., salt), so a hot
    * key's rows spread over `saltBuckets` reducers instead of one.
    *
    * Use when AQE's skew-join split cannot apply — e.g. the join is
    * followed by an aggregation on the same keys (AQE won't split a
    * partition that a downstream operator requires co-partitioned), or
    * a deterministic plan is required. Replication multiplies the dim
    * by `saltBuckets`, so keep the dim small or the bucket count
    * moderate. Inner and left_outer semantics are preserved (every
    * fact row carries exactly one salt and every (key, salt) exists on
    * the replicated dim side iff the key exists). */
  def saltedJoin(facts: DataFrame, dims: DataFrame, keys: Seq[String],
      joinType: String = "inner", saltBuckets: Int = 32): DataFrame = {
    require(Seq("inner", "left", "left_outer").contains(joinType),
      "saltedJoin preserves semantics for inner/left joins only")
    val saltedFacts = facts.withColumn("__salt",
      pmod(hash(facts.columns.toIndexedSeq.map(col): _*),
        lit(saltBuckets)))
    val replicatedDims = dims.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    saltedFacts.join(replicatedDims, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Fused salted join+aggregate for AQE's blind spot: a skewed
    * fact⋈dim equi-join FOLLOWED BY an algebraic aggregate on the
    * same keys. AQE's skew-join split duplicates hot-partition rows
    * across reducers, which is fine for a bare join but breaks the
    * hash-partitioning contract a downstream same-key aggregate
    * requires — so when the agg reuses the join's partitioning, AQE
    * leaves the hot partition whole and one reducer carries the join
    * AND the agg for the hot key. Salting does the split explicitly
    * and folds the aggregate into the salted partitions: join on
    * (keys, salt) → partial sum/count on (keys, salt) → final merge
    * on keys. One data-derived salt, every exchange balanced; the
    * partial agg output is `keys × saltBuckets` rows, so the final
    * merge is trivial. `value` may reference columns from either
    * side (evaluated post-join). */
  def saltedJoinAgg(facts: DataFrame, dims: DataFrame, keys: Seq[String],
      value: Column, sumName: String, countName: String,
      saltBuckets: Int = 32): DataFrame = {
    val saltedFacts = facts.withColumn("__salt",
      pmod(hash(facts.columns.toIndexedSeq.map(col): _*),
        lit(saltBuckets)))
    val replicatedDims = dims.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    saltedFacts.join(replicatedDims, keys :+ "__salt")
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(sumName),
        sum(col("__pcnt")).cast("long").as(countName))
  }

  /** Hot-key-targeted [[saltedJoinAgg]]: full-dim replication
    * multiplies the ENTIRE dim by `saltBuckets` — fine for a 10k-row
    * dim, prohibitive for a 10M-row one. Skew is concentrated (the
    * reference's rule: top 5% of orgs carry half the volume), so only
    * the hot keys need the salt. One map-side-combinable count pass
    * finds the `hotKeyCount` heaviest keys (deterministic: count desc,
    * then keys — broadcast as a bounded set); the hot fact slice
    * joins salted against ONLY the hot dim rows replicated, the cold
    * slice joins plain (no skew by construction, dims broadcast or
    * shuffle as Catalyst prefers), and both sides partial-aggregate
    * BEFORE the final merge on bare keys — unioning raw join outputs
    * and re-grouping would funnel the hot key through one reducer
    * again, which is exactly the straggler being removed. Costs one
    * extra count-shuffle of distinct keys; buys dim replication
    * bounded by `hotKeyCount` rows instead of |dim|. */
  def saltedJoinAggHot(facts: DataFrame, dims: DataFrame,
      keys: Seq[String], value: Column, sumName: String,
      countName: String, saltBuckets: Int = 32,
      hotKeyCount: Int = 64): DataFrame = {
    val keyC = keys.map(col)
    // bounded collect: ≤ hotKeyCount rows by construction (TakeOrdered
    // over the map-side-combined key counts) — collected once so the
    // count pass runs once, not once per consumer below
    val hotRows = facts.groupBy(keyC: _*).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc +: keyC: _*)
      .limit(hotKeyCount)
      .select(keyC: _*)
      .collect()
    val hot = facts.sparkSession
      .createDataFrame(java.util.Arrays.asList(hotRows: _*),
        facts.select(keyC: _*).schema)
      .withColumn("__hot", lit(1))
    val marked = facts.join(broadcast(hot), keys, "left")
    val hotFacts = marked.filter(col("__hot") === 1).drop("__hot")
    val coldFacts = marked.filter(col("__hot").isNull).drop("__hot")
    val hotDims = dims.join(broadcast(hot), keys, "left_semi")
      .withColumn("__salt",
        explode(array((0 until saltBuckets).map(lit(_)): _*)))
    val saltedHot = hotFacts.withColumn("__salt",
      pmod(hash(hotFacts.columns.toIndexedSeq.map(col): _*),
        lit(saltBuckets)))
    val hotPartial = saltedHot.join(hotDims, keys :+ "__salt")
      .groupBy((keyC :+ col("__salt")): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
      .drop("__salt")
    val coldPartial = coldFacts.join(dims, keys)
      .groupBy(keyC: _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
    hotPartial.unionByName(coldPartial)
      .groupBy(keyC: _*)
      .agg(sum(col("__psum")).as(sumName),
        sum(col("__pcnt")).cast("long").as(countName))
  }

  /** Outer-join null-key guard: in a shuffled outer join, every
    * null-key row hashes to ONE reducer — with a high null rate (the
    * reference injects 5-15% missing values,
    * `data_gen/pseudo_code_rules.txt:48-56`) that reducer becomes the
    * straggler. Null-key left rows can never match, so they bypass the
    * join entirely and are unioned back with null right-side columns —
    * same result, no null hot partition. */
  def nullSafeLeftJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    val hasNull = keys.map(col(_).isNull).reduce(_ || _)
    val joined = left.filter(!hasNull).join(right, keys, "left")
    val rightOnly = joined.columns.filterNot(left.columns.contains)
    val bypass = rightOnly.foldLeft(left.filter(hasNull)) { (d, c) =>
      d.withColumn(c, lit(null).cast(
        joined.schema(c).dataType))
    }
    joined.unionByName(bypass.select(joined.columns.toIndexedSeq
      .map(col): _*))
  }
}
