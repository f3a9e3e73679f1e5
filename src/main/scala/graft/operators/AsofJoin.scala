package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed backward as-of join: for each left row, attach the payload
  * of the most recent right row with the same key and `ts <= left.ts`
  * (inclusive — a right row at exactly the left timestamp matches).
  *
  * Physical shape — deliberately NOT a range join. Both sides are unioned
  * with a side marker and processed by ONE running window sorted on
  * (key, ts, side): the right payload (packed in a single non-null struct
  * so legitimately-null payload fields survive) is carried forward with
  * `last(_, ignoreNulls)` over UNBOUNDED PRECEDING..CURRENT ROW, then left
  * rows are filtered back out. One shuffle on key, one sort, zero join
  * nodes — so there is no candidate-pair blowup on hot keys: the plan is
  * linear in |L|+|R| at any key skew, where a naive `l.ts >= r.ts` range
  * join does O(|L_k|·|R_k|) work per key and dies on skewed keys at scale.
  * At equal ts the right row sorts first (side 0 < 1), giving the inclusive
  * bound without a second pass.
  *
  * Contract: right rows must be unique per (key, ts) — pre-aggregate if
  * not (ties would otherwise resolve by sort position, not a defined rule).
  * Skew note: one pathological key still serializes one partition in
  * [[backward]]; [[backwardBucketed]] is the hot-key path — range-bucketed
  * ts within each key plus a tiny boundary-stitching pass that carries
  * each bucket's last right row into the next.
  */
object AsofJoin {

  /** Marked union of the two sides: left rows carry __side=1 and a null
    * payload struct, right rows carry __side=0 and their payload packed in
    * one non-null struct (so legitimately-null payload fields survive the
    * ignoreNulls carry). */
  private def marked(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String]): (DataFrame, Seq[String]) = {
    val leftRest = left.columns.toSeq.filterNot(c => c == key || c == ts)
    val payloadType = org.apache.spark.sql.types.StructType(
      right.select(payload.map(col): _*).schema.fields)
    val l = left.select(
      Seq(col(key), col(ts), lit(1).as("__side")) ++ leftRest.map(col) :+
        lit(null).cast(payloadType).as("__payload"): _*)
    val r = right.select(
      Seq(col(key), col(ts), lit(0).as("__side")) ++
        leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__payload"): _*)
    (l.unionByName(r), leftRest)
  }

  /** Left columns + `payload` columns from the matched right row (null
    * struct fields when no right row precedes). `key` and `ts` must exist
    * on both sides; `payload` names must not collide with left columns. */
  def backward(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String]): DataFrame = {
    val (u, leftRest) = marked(left, right, key, ts, payload)
    val w = Window.partitionBy(key).orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__payload", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(Seq(col(key), col(ts)) ++ leftRest.map(col) ++
        payload.map(c => col("__payload").getField(c).as(c)): _*)
  }

  /** Hot-key variant: value-identical to [[backward]] (AsofJoinSpec
    * asserts row equality; the q7_asof_join_bucketed oracle is DuckDB's
    * native ASOF JOIN) but skew-immune — no single key ever serializes
    * into one task.
    *
    * EAGER: constructing the returned DataFrame runs two Spark jobs (the
    * range/key probe and the carry collect), so plan composition triggers
    * execution and upstream failures surface at BUILD time — unlike every
    * other operator here. Callers needing lazy composition should use
    * [[backward]].
    *
    * Each key's rows are split into ≤ `numBuckets` ts-range buckets
    * (global fixed-width slices — monotone in ts, map-only, no per-key
    * statistics). The carry-forward window then runs per (key, bucket):
    * task size is bounded by bucket occupancy, not key frequency. A left
    * row whose match lies in an EARLIER bucket is stitched by a second
    * pass over the TINY bucket-level frame (≤ keys × numBuckets rows):
    * each bucket's last right payload, cumulated per key with the same
    * ignoreNulls carry, broadcast-joined back as the carry-in, and
    * `coalesce(local, carry_in)` resolves every row. Shape: one bounded
    * (key, bucket) exchange + one tiny aggregate + one broadcast join —
    * vs [[backward]]'s single unbounded key exchange.
    *
    * `ts` must be numeric/castable to double (bucket arithmetic; the
    * bucket function only needs monotonicity, so double rounding is
    * harmless); a NULL ts lands in bucket 0, where it sorts first like
    * in [[backward]]'s global window, so null-ts rows keep identical
    * semantics instead of falling out of the stitch join.
    *
    * Guarded for the regime it targets: the carry frame is
    * keys × numBuckets rows, so when the range probe's approximate key
    * count estimates more than `maxCarryRows` carry rows, the operator
    * AUTO-FALLS-BACK to [[backward]] (many distinct keys ⇒ no hot key ⇒
    * the single per-key window is the right plan anyway) instead of
    * force-broadcasting an unbounded frame. Within the guard, the carry
    * is collected and re-created as a local relation, which lets the
    * marked-union cache be released eagerly on the success path too —
    * upstream runs exactly twice (range+carry probe, final join), and no
    * cache entry outlives the call. Degenerate limit: rows of one key at
    * ONE identical ts still share a bucket (nothing orders them anyway). */
  def backwardBucketed(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], numBuckets: Int = 32,
      maxCarryRows: Long = 1L << 18): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be ≥ 2, got $numBuckets")
    // numeric/temporal ts only: for string ts the bucket math (numeric)
    // and backward's window order (lexicographic) would disagree — reject
    // instead of silently diverging
    Seq(left, right).foreach { side =>
      val t = side.schema(ts).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.TimestampNTZType ||
        t == org.apache.spark.sql.types.DateType,
        s"backwardBucketed needs a numeric/temporal ts column, got $t — " +
          "use backward for other orderable types")
    }
    val (u0p, leftRest) = marked(left, right, key, ts, payload)
    // one materialization shared by the range probe + the 3 consumers
    val u0 = u0p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rngRow = u0.agg(min(col(ts).cast("double")), max(col(ts).cast("double")),
      approx_count_distinct(col(key))).head
    if (rngRow.isNullAt(0)) { // all-null/empty ts: nothing to bucket
      u0.unpersist()
      return backward(left, right, key, ts, payload)
    }
    // carry-frame guard: keys × buckets beyond the broadcast budget means
    // the key space is wide, i.e. no hot key — backward's one window wins.
    // approx_count_distinct carries ~2% HLL error, so compare against a
    // 0.95 safety margin of the budget; the post-collect hard check below
    // still catches an under-estimate (maxCarryRows is a budget, not a
    // cliff, but the collected frame must never exceed it unbounded).
    if (rngRow.getLong(2) * numBuckets > (maxCarryRows * 0.95).toLong) {
      u0.unpersist()
      return backward(left, right, key, ts, payload)
    }
    val gLo = rngRow.getDouble(0)
    val width = math.max((rngRow.getDouble(1) - gLo) / numBuckets, java.lang.Double.MIN_VALUE)
    // coalesce BEFORE least: Spark's least() skips null operands, so
    // least(null_bucket, max) would sweep null-ts rows into the LAST
    // bucket (inheriting every carry) instead of bucket 0
    val u = u0.withColumn("__bucket",
      least(coalesce(floor((col(ts).cast("double") - gLo) / width).cast("int"), lit(0)),
        lit(numBuckets - 1)))
    val wLocal = Window.partitionBy(key, "__bucket").orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = u.withColumn("__local", last(col("__payload"), ignoreNulls = true).over(wLocal))
    // bucket-level lasts (right rows only) → per-key cumulative carry-in.
    // max_by SKIPS rows whose ordering value is null, which would drop a
    // null-ts right payload from the carry entirely (backward's window
    // carries it: NULLS FIRST = oldest) — order nulls as -∞ instead.
    val bucketLast = u.filter(col("__side") === 0)
      .groupBy(key, "__bucket")
      .agg(max_by(col("__payload"),
        coalesce(col(ts).cast("double"), lit(Double.NegativeInfinity))).as("__blast"))
    val wCarry = Window.partitionBy(key).orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = u.select(col(key), col("__bucket")).distinct()
      .join(bucketLast, Seq(key, "__bucket"), "left")
      .withColumn("__carry", last(col("__blast"), ignoreNulls = true).over(wCarry))
      .select(col(key), col("__bucket"), col("__carry"))
    // localize the (guard-bounded) carry so the marked-union cache can be
    // released NOW instead of living until LRU eviction; the final join
    // then re-derives the map-only union once
    val carryRows = carry.collect()
    val carrySchema = carry.schema
    u0.unpersist()
    // hard post-collect check: if the HLL estimate slipped under the
    // margin but the true carry exceeds the budget, fall back rather than
    // broadcast an over-budget frame
    if (carryRows.length > maxCarryRows) {
      return backward(left, right, key, ts, payload)
    }
    val carryLocal = left.sparkSession.createDataFrame(
      java.util.Arrays.asList(carryRows: _*), carrySchema)
    local.join(broadcast(carryLocal), Seq(key, "__bucket"))
      .withColumn("__payload", coalesce(col("__local"), col("__carry")))
      .filter(col("__side") === 1)
      .select(Seq(col(key), col(ts)) ++ leftRest.map(col) ++
        payload.map(c => col("__payload").getField(c).as(c)): _*)
  }
}
