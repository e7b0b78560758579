package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextF

/** Skew mitigation for hot keys. A shuffled equi-join sends every row
  * of a key to one reducer; at 100 TB a handful of hot keys (the empty
  * document, a bot user id) straggle or OOM that reducer. Salting
  * splits each hot key across `salts` reducers: the skewed side gets a
  * salt in [0, salts), the other side replicates each row to all
  * salts, and the join key becomes (key, salt). AQE's skew-join
  * handles sort-merge cases adaptively; explicit salting remains the
  * tool for aggregations and for joins AQE can't split.
  */
object Skew {

  /** Equi-join with the LEFT side salted (left = the skewed/fact side,
    * right = the replicated side — keep it the smaller one: it costs
    * `salts`× its size in shuffle volume). Result is row-identical to
    * the plain join (SkewSpec asserts it). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int): DataFrame = {
    // Any salt assignment is correct (it only spreads rows) — but it
    // MUST vary within a key, so the row id goes into the hash; a salt
    // of the key alone would send every row of a hot key to one
    // reducer and defeat the whole mitigation.
    val l = left.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts)).cast("int"))
    val r = right.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** Key-distribution diagnostics: the numbers an operator AUTHOR
    * reads before choosing between a plain join, AQE skew handling,
    * and explicit salting. Per key-column: cardinality, total rows,
    * the heaviest key and its share, and the skew factor
    * max/mean — a factor near 1 is uniform; 10+ means the heaviest
    * key's reducer does 10× the average work. Two-level aggregate
    * (map-side combinable), no collect. */
  def keySkewOf(df: DataFrame, keyCol: String): DataFrame = {
    val perKey = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    // Empty input → ZERO rows (matching the oracle's empty LIMIT-1
    // cross join), not one all-NULL row from the global agg.
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum("n").as("n_rows"),
      max("n").as("max_rows"),
      max(struct(col("n"), col("key"))).as("top"))
      .select(
        lit(keyCol).as("key_col"),
        col("n_keys"), col("n_rows"), col("max_rows"),
        col("top.key").cast("string").as("heaviest_key"),
        // floor-form rounding (cf. TextF.round4HalfUp): engine-agnostic
        // at half-way doubles, the policy for new oracle-checked scores
        TextF.round6HalfUp(col("max_rows").cast("double")
          / col("n_rows").cast("double")).as("top_share"),
        TextF.round4HalfUp(col("max_rows").cast("double") /
          (col("n_rows").cast("double") / col("n_keys").cast("double")))
          .as("skew_factor"))
      .filter(col("n_keys") > 0)
  }

  /** Skew report over the `events` table's natural keys. */
  def keySkew(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    keySkewOf(graft.sources.Tables.events(spark, dir), "user_id")
      .unionByName(keySkewOf(
        graft.sources.Tables.events(spark, dir), "event_type"))
      .orderBy("key_col")

  /** Two-phase (partial → final) aggregation for skewed group keys:
    * aggregate on (key, salt) first so every reducer sees at most
    * 1/salts of a hot key's rows, then combine the partials. `aggs`
    * maps column → partial-agg; only algebraic aggregates (sum, count,
    * min, max) compose this way. */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     salts: Int): DataFrame =
    df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(salts.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum("__psum").as("total"), sum("__pcnt").as("rows"))
}
