package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit Bloom-filter runtime pre-filter for selective semi-joins —
  * the declarative analog of Spark's own runtime row-level filtering
  * (Catalyst injects BloomFilterAggregate under
  * `spark.sql.optimizer.runtime.bloomFilter.enabled`, but only when
  * its heuristics fire; this operator is the same idea as a library
  * primitive the caller controls).
  *
  * Scale story (100 TB): a fact⋈dim semi-join shuffles every fact row
  * that MIGHT match. With a Bloom filter of the dim keys evaluated at
  * the fact scan, non-matching fact rows die map-side — for a 20%-
  * selective dim that is an 80% cut of the shuffle bytes — and the
  * exact join that follows only confirms the survivors (Bloom false
  * positives are removed there, so the operator's OUTPUT is exact and
  * oracle-checkable; the filter only ever shrinks the shuffle, never
  * the answer).
  *
  * The bitset is built distributed (one map-side-combinable bit_or
  * aggregate) and then materialized at the driver as a LITERAL map —
  * `bits/8` bytes FIXED regardless of key count, the same
  * driver-held-scalar contract as Spark's InjectRuntimeFilter
  * subquery. A broadcast-join formulation was tried first and
  * rejected: the probe condition can only evaluate above the join
  * that carries the bitset, so ReorderJoin is free to plan the exact
  * semi-join FIRST and the "pre"-filter after it — silently useless.
  * A literal is a plain scan-side predicate no optimizer can lift
  * above a join.
  */
object BloomJoin {

  /** Build the Bloom bitset over `keys.keyCol` as a 1-row DataFrame
    * with a sparse `map<int, long>` of non-zero 64-bit words.
    * `hashes` positions per key come from seeded xxhash64; build and
    * probe derive positions from the same expression shape, so they
    * can never drift.
    */
  def bloomFilterOf(keys: DataFrame, keyCol: String,
                    bits: Int = 1 << 17, hashes: Int = 5): DataFrame = {
    require(bits > 0 && bits % 64 == 0, s"bits must be a positive multiple of 64, got $bits")
    require(hashes > 0, s"hashes must be positive, got $hashes")
    keys
      .select(col(keyCol).as("k"))
      .select(explode(sequence(lit(0), lit(hashes - 1))).as("s"), col("k"))
      .select(pmod(xxhash64(col("k"), col("s")), lit(bits.toLong)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("word"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
      .groupBy().agg(map_from_entries(
        collect_list(struct(col("word"), col("bits")))).as("bloom"))
  }

  /** 1-indexed literal lookup table of the 64 single-bit masks —
    * `element_at(masks, b + 1)` is the Column-API form of `1L << b`
    * with a non-constant shift amount.
    */
  private val BitMasks: Column = typedlit((0 until 64).map(i => 1L << i))

  /** Probe predicate: all `hashes` bits of `key` are set in the
    * literal DENSE `bloom` word array (1-indexed element_at — O(1) on
    * an array literal, where a map literal's element_at is a LINEAR
    * scan of its 2048 entries per probe and dominated the query).
    * Pure scan-side Column expressions (whole-stage codegen), no join
    * — evaluated before any exchange.
    */
  private def mightContain(key: Column, bloom: Column,
                           bits: Int, hashes: Int): Column =
    (0 until hashes).map { s =>
      val pos = pmod(xxhash64(key, lit(s)), lit(bits.toLong))
      element_at(bloom, shiftright(pos, 6).cast("int") + 1)
        .bitwiseAND(element_at(BitMasks, (pos % 64).cast("int") + 1)) =!= 0L
    }.reduce(_ && _)

  /** Map-side pre-filter of `facts` by a Bloom filter of `keys`: keeps
    * every fact row whose key is in `keys` (no false negatives) plus a
    * fixed-rate residue of false positives for the exact join to
    * remove. Runs the build aggregate eagerly and embeds the
    * fixed-size bitset as a dense literal array (see object scaladoc).
    */
  def preFilter(facts: DataFrame, keys: DataFrame, factKey: String, keyCol: String,
                bits: Int = 1 << 17, hashes: Int = 5): DataFrame = {
    val words = bloomFilterOf(keys, keyCol, bits, hashes)
      .collect().head.getMap[Int, Long](0) // bits/8 bytes, bounded
    val dense = (0 until bits / 64).map(i => words.getOrElse(i, 0L))
    facts.filter(mightContain(col(factKey), typedlit(dense), bits, hashes))
  }

  /** Demo query: revenue of lineitems belonging to URGENT orders.
    * Bloom-prefilter the fact scan, then exact left-semi confirm
    * (strategy left to AQE — the key side is a filtered fact, not a
    * bounded dimension), then one map-side-combinable rollup on the
    * quantized money contract ([[Report.earningsMicros]]).
    */
  def urgentRevenueOf(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val urgent = orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val pre = preFilter(lineitem, urgent, "l_orderkey", "o_orderkey")
    pre.join(urgent, pre("l_orderkey") === urgent("o_orderkey"), "left_semi")
      .select(col("l_returnflag"), Report.earningsMicros.as("qrev"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        graft.functions.TextF.microsTo4dp(sum(col("qrev"))).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Bloom-filter calibration audit — [[HeavyHitters.countMinErrOf]]'s
    * sibling for THIS operator's sketch: build the bitset over the
    * urgent order keys exactly as [[preFilter]] does, then probe it
    * with every key known NOT to be a member (non-urgent orders —
    * o_orderkey is unique, so priority ≠ urgent ⟹ non-member) and
    * report the MEASURED false-positive rate next to the filter's
    * fill ratio. fpr ≈ fill^hashes is the textbook check; the
    * measured number is what decides whether `bits` is sized right
    * for the dim cardinality before a 100 TB run trusts the shuffle
    * cut (an overfull filter silently degrades the pre-filter to a
    * no-op — correctness survives, the 80% shuffle saving doesn't).
    * All integers (ppm by integer division); bit counting runs on the
    * bounded bits/64-word array, probing is the same scan-side
    * codegen predicate as production.
    *
    * Pinned-frame oracle: positions come from Spark-native xxhash64
    * (not SQL-replicable — the [[graft.operators.Dedup.lshPrecisionOf]]
    * convention); BloomJoinSpec pins the zero-FN contract and the
    * fill/FPR algebra on hand-built keys. */
  def bloomFprOf(orders: DataFrame, bits: Int = 1 << 17,
                 hashes: Int = 5): DataFrame = {
    val urgent = orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    val words = bloomFilterOf(urgent, "k", bits, hashes)
      .collect().head.getMap[Int, Long](0) // bits/8 bytes, bounded
    val dense = (0 until bits / 64).map(i => words.getOrElse(i, 0L))
    val setBits = dense.map(java.lang.Long.bitCount(_).toLong).sum
    val negatives = orders
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey").as("k"))
    negatives
      .agg(count(lit(1)).as("n_negatives"),
        sum(when(mightContain(col("k"), typedlit(dense), bits, hashes), 1L)
          .otherwise(0L)).as("n_false_pos"))
      .crossJoin(broadcast(urgent.agg(count(lit(1)).as("n_keys")))) // 1 row
      .select(lit(bits).as("bits"), lit(hashes).as("hashes"),
        col("n_keys"), lit(setBits).as("set_bits"),
        expr(s"(${setBits}L * 1000000) div ${bits}L").as("fill_ppm"),
        col("n_negatives"), col("n_false_pos"),
        expr("(n_false_pos * 1000000) div n_negatives").as("fpr_ppm"))
  }
}
