package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hot-key-safe per-key aggregation over a corpus-sized stream — the
  * guide §2.2/§2.5 TWO-LEVEL (salted) aggregation, replacing the
  * `count/min/max over (partition by key)` WINDOW shapes round 16
  * introduced (x44, x98 via Dedup.weightedShingles, x55/x65), per the
  * r16 verdict/ADVICE skew finding.
  *
  * Why the window form is skew-fragile: `agg(...) over (partition by
  * key)` routes EVERY occurrence of a key into one task, which SORTS
  * and BUFFERS the whole group (WindowExec materializes each
  * partition group in an ExternalAppendOnlyUnsafeRowArray). A
  * boilerplate shingle/unigram whose frequency is corpus-shaped
  * becomes a single-task sort+spill at 100 TB, and neither map-side
  * partial aggregation nor AQE skew handling applies to WindowExec.
  *
  * Why not a plain `groupBy(key) + join-back` (measured, rejected):
  * the AGGREGATE is skew-safe (partial aggregation bounds per-key
  * traffic to one row per map task), but the join-back lands every
  * occurrence of the hot key in ONE task of the attach join, and AQE
  * cannot rescue it — OptimizeSkewedJoin only matches a bare shuffle
  * stage under each join child, so an aggregate- or window-fed build
  * side disables the split (measured in OPTIMIZATION_r17.md's
  * "SkewProbe receipts": no split ever fires,
  * and an explicit repartition of the aggregate output is optimizer-
  * removed as redundant); broadcast demotion is similarly blind (it
  * sees the pre-final-aggregate partial rows). The plain join-back is
  * the faster local form, but its hot-key task is structurally
  * unsplittable.
  *
  * The shape here splits the hot key BY CONSTRUCTION — no AQE
  * threshold in the loop:
  *
  *  1. the stream is repartitioned by (key, salt) where salt is a
  *     deterministic hash bucket (guide §2.5: never rand() — retried
  *     tasks must re-draw the same salt); a hot key spreads over
  *     [[Buckets]] partitions no matter how hot;
  *  2. the LEVEL-1 aggregate groups by (key, salt) on top of that
  *     exchange — per-group state is 1/Buckets of the key's mass;
  *  3. the LEVEL-2 merge folds each key's ≤Buckets partials under a
  *     window partitioned by the key alone — the ONLY by-key-alone
  *     operator anywhere, and its groups are ≤Buckets rows no matter
  *     how hot the key is (corpus rows never ride it), keeping the
  *     (key, salt) row identity so nothing fans out ×Buckets for
  *     near-unique key spaces;
  *  4. the merged (or filtered) table re-attaches with a
  *     SHUFFLED-HASH (semi) join ON (key, salt): the stream side
  *     needs no sort and the hot key's probe rows stay spread over
  *     its Buckets partitions.
  *
  * The attached values are identical to the window form for any
  * associative+commutative aggregate: level-1 ∘ level-2 is a
  * regrouping of the same exact-integer fold (SaltedAggSpec pins it
  * on a hot-key fixture and checks the plan shape; the max-task
  * receipts are OPTIMIZATION_r17.md's "SkewProbe receipts", and
  * `graft.Probe` prints max_task for any registered query).
  */
object SaltedAgg {

  /** Salt fan-out: a hot key's largest task handles ~1/Buckets of the
    * key's mass; the level-2 window groups are ≤Buckets rows.
    */
  val Buckets = 16

  /** Deterministic salt bucket from row columns that VARY within a
    * key group (doc id, offset, ...).
    */
  def salt(src: Column*): Column =
    pmod(xxhash64(src: _*), lit(Buckets)).cast("int")

  private def salted(df: DataFrame, keyCol: String,
      saltSrc: Seq[Column]): DataFrame =
    df.withColumn("__salt", salt(saltSrc: _*))
      .repartition(col(keyCol), col("__salt"))

  private def mergedPartials(stream: DataFrame, keyCol: String,
      level1: Seq[Column], level2: Seq[(Column, String)]): DataFrame = {
    val partials = stream.groupBy(col(keyCol), col("__salt"))
      .agg(level1.head, level1.tail: _*)
    // level-2 merge: ≤Buckets rows per window group by construction
    val wK = Window.partitionBy(col(keyCol))
    level2.foldLeft(partials) { case (d, (e, name)) =>
      d.withColumn(name, e.over(wK))
    }
  }

  /** Attach per-`keyCol` aggregates to every row of `df`.
    *
    * @param df       input stream
    * @param keyCol   the (possibly hot) grouping key column name
    * @param saltSrc  columns that vary within a key group
    * @param level1   aggregate exprs over raw rows, aliased
    *                 (e.g. `count(lit(1)).as("p_cnt")`)
    * @param level2   merge exprs over the level-1 partial columns,
    *                 UNALIASED, with the final attached name
    *                 (e.g. `sum(col("p_cnt")) -> "df"`)
    */
  def attach(df: DataFrame, keyCol: String, saltSrc: Seq[Column],
      level1: Seq[Column], level2: Seq[(Column, String)]): DataFrame = {
    val stream = salted(df, keyCol, saltSrc)
    val merged = mergedPartials(stream, keyCol, level1, level2)
      .select(col(keyCol) +: col("__salt") +: level2.map(n => col(n._2)): _*)
    stream.join(merged.hint("shuffle_hash"), Seq(keyCol, "__salt"))
      .drop("__salt")
  }

  /** Keep only the rows of `df` whose key's MERGED aggregate passes
    * `pred` — the x55/x65 "window repeats across documents" filter,
    * as a salted semi-join: the kept (key, salt) pairs (only keys
    * passing the predicate) build the hash side, the stream probes
    * without a sort, and a hot key stays split by its salt.
    */
  def filterKeys(df: DataFrame, keyCol: String, saltSrc: Seq[Column],
      level1: Seq[Column], level2: Seq[(Column, String)],
      pred: Column): DataFrame = {
    val stream = salted(df, keyCol, saltSrc)
    val keep = mergedPartials(stream, keyCol, level1, level2)
      .filter(pred).select(col(keyCol), col("__salt"))
    stream.join(keep.hint("shuffle_hash"),
        Seq(keyCol, "__salt"), "left_semi")
      .drop("__salt")
  }
}
