package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-wide BPE pair-merge rounds (Sennrich et al. 2016), the
  * distributed core of tokenizer training, lifted out of the x74
  * registry entry so the merge policy is parameterized (round-8
  * verdict task #6 — the a ≠ b restriction is now a FLAG, not a
  * silent limitation). Round 11 splits the machinery into the two
  * halves a production tokenizer actually has:
  *
  *  - TRAIN ([[topPair]] / [[trainPairs]] / [[mergeRound]]): find the
  *    most frequent adjacent pair corpus-wide, fuse it, repeat. Runs
  *    once per vocabulary.
  *  - ENCODE ([[applyPair]] / [[encode]]): apply an already-trained
  *    merge sequence, in training order, to ANY corpus — the hot path
  *    that runs ~1000× more often than training. Each merge is a
  *    1-row broadcast + a NARROW per-document array rewrite: no
  *    shuffle, no state, embarrassingly parallel at any corpus size.
  *    Applying the merges in training order reproduces training's own
  *    rewrites exactly, so encode(training corpus) == the trained
  *    corpus row for row (RoundElevenSpec pins the round trip).
  *
  * Scale shape per TRAINING round: one partial-aggregated shuffle on
  * the packed pair (counts), a 1-row TakeOrderedAndProject argmax
  * broadcast back (the x32 scalar shape — PlanAudit's adjudicated
  * BNLJ), and the narrow rewrite. Rounds compose linearly; a
  * production vocab build runs the same plan to convergence with
  * per-round checkpointing like Components. Zero driver state — the
  * winning pair rides the broadcast, never a collect.
  *
  * Merge policies:
  *  - `allowIdentical = false` (x74's frozen oracle shape): candidate
  *    pairs are restricted to a ≠ b. With distinct halves an
  *    occurrence can never overlap the next one (a match ending at i
  *    would need t[i]=a and t[i]=b at once), so "merge all
  *    occurrences" is position-independent and both engines rebuild
  *    token arrays with pure per-element arithmetic.
  *  - `allowIdentical = true` (real BPE): identical-half pairs (a, a)
  *    compete too, counted at every adjacent position (overlaps
  *    included, the standard adjacency count). Occurrences inside a
  *    run of a's overlap, so the rewrite applies the deterministic
  *    LEFT-GREEDY rule real BPE uses: within each maximal run of
  *    length L, positions at even 0-based run offset start a merge
  *    when a partner follows — floor(L/2) merged pairs, then a lone
  *    trailing a when L is odd ("a a a a a" → "a_a a_a a"). Run
  *    offsets derive from each position's nearest preceding non-a
  *    index, an O(len²) per-document expression — documents are
  *    length-bounded by the chunking stage at any corpus scale, and
  *    the rewrite stays narrow (no shuffle, no state).
  *
  * Pairs are packed a + U+0001 + b (U+0001 sorts below every token
  * char, so packed-string order IS (a, b) tuple order in both
  * engines); count ties break to the packed-string minimum.
  *
  * TRAINING AT PRODUCTION DEPTH (round-12; SCALE-BPEDEPTH receipt in
  * PLANS.md): per-round cost is FLAT to 80 rounds under the per-round
  * checkpointing (no O(rounds²) leak), so a 30k-merge vocabulary is
  * 30k × per-round — viable offline at moderate corpus sizes, but at
  * 100 TB the dominant term becomes 30k full-corpus pair RECOUNTS.
  * The design at that scale is INCREMENTAL pair-count maintenance:
  * merging (a, b) → ab changes only the adjacencies that touch a
  * merge site — for a site `… x a b y …` the deltas are
  * (x,a) −1, (b,y) −1, (a,b) −1, (x,ab) +1, (ab,y) +1 — and the
  * rewrite job already visits exactly the documents containing
  * (a, b), so the deltas ride as a side output of the rewrite
  * (flatMap per merge site) and fold by key into a persisted
  * pair-count table; the next round's argmax reads the maintained
  * table. Round cost becomes O(occurrences of the merged pair) +
  * a small-table upsert, independent of corpus size — the
  * distributed analogue of the pair-index fast trainer in Sennrich's
  * reference implementation.
  *
  * IMPLEMENTED this round as [[trainFast]] over the corpus TYPE TABLE
  * ([[typeTable]]): one corpus-shaped aggregate collapses the corpus
  * to (distinct toks array, multiplicity) — bounded by the content
  * vocabulary under Heaps' law, NOT by corpus size (a duplicated
  * corpus grows the weights, never the table) — then every round
  * runs entirely on bounded state: argmax off the maintained
  * pair-count table, a narrow rewrite of only the types CONTAINING
  * the merged pair, and an exact per-type old-minus-new adjacency
  * histogram diff folded back into the counts. Rule-sequence
  * bit-equality with the recount loop (both merge policies, ties
  * included) is pinned by RoundTwelveSpec; x124 proves it corpus-wide
  * under the DuckDB recount oracle; SCALE-BPEFAST carries the
  * corpus-independence receipt. The recount loop stays as the
  * oracle-mirroring reference form.
  */
object BpeMerge {
  private val sep = "\u0001"

  /** Packed adjacent pairs of the `toks` column: element i is
    * toks(i) ++ U+0001 ++ toks(i+1) (null where the a ≠ b policy
    * excludes an identical-half pair).
    */
  private def packedAdjacent(allowIdentical: Boolean): Column = {
    val tk = col("toks")
    zip_with(
      slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
      (x, y) =>
        if (allowIdentical) concat(x, lit(sep), y)
        else when(x =!= y, concat(x, lit(sep), y)))
  }

  /** The argmax adjacent pair of the current corpus, as a 1-row
    * (ma, mb) frame — the trained merge rule of one round.
    */
  def topPair(df: DataFrame, allowIdentical: Boolean = false): DataFrame = {
    val adjacent = packedAdjacent(allowIdentical)
    df.select(explode(adjacent).as("ab"))
      .filter(col("ab").isNotNull)
      .groupBy(col("ab")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("ab")).limit(1)
      .select(split(col("ab"), sep).getItem(0).as("ma"),
        split(col("ab"), sep).getItem(1).as("mb"))
  }

  /** The top-k adjacent pairs of `df` in ONE aggregate pass, as a
    * ranked (ma, mb, r) rule table — the serve-form stand-in for a
    * PERSISTED vocabulary (x92): deployment encode never re-runs the
    * sequential per-round argmaxes, it loads a merge table and applies
    * the rules in order, so the table here is built by the cheapest
    * exact one-pass ranking (count desc, packed-pair asc — the same
    * tie order training uses). Note the rules are ranked by BASE-corpus
    * counts, not re-counted after each merge like [[trainPairs]] —
    * provenance is the vocabulary builder's concern; encode semantics
    * (sequential application in rank order) are identical either way
    * and that is the hot path being priced.
    *
    * Plan: one partial-aggregated shuffle on the packed pair, then
    * TakeOrderedAndProject(k) → a k-row ranking window (bounded domain
    * — PlanAudit adjudicates). localCheckpoint the result before
    * splitting it into per-rank 1-row frames, or each split re-runs
    * the aggregate.
    */
  def topPairs(df: DataFrame, k: Int,
      allowIdentical: Boolean = false): DataFrame = {
    val adjacent = packedAdjacent(allowIdentical)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("ab"))
    df.select(explode(adjacent).as("ab"))
      .filter(col("ab").isNotNull)
      .groupBy(col("ab")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("ab")).limit(k)
      .withColumn("r", row_number().over(w))
      .select(split(col("ab"), sep).getItem(0).as("ma"),
        split(col("ab"), sep).getItem(1).as("mb"), col("r"))
  }

  /** Rewrite `toks` under the (ma, mb) columns riding on each row.
    * Shared by training (where the pair is the round's argmax) and
    * encode (where it is a trained rule).
    */
  private def rewriteToks(df: DataFrame,
      allowIdentical: Boolean): DataFrame = {
    val tk = col("toks")
    val n = size(tk)
    // a ≠ b: occurrences cannot overlap — merge every match.
    val droppedNe = (i: Column) => coalesce(
      when(i > 1, element_at(tk, i - 1) === col("ma")
        && element_at(tk, i) === col("mb")), lit(false))
    val headNe = (i: Column) => element_at(tk, i) === col("ma") &&
      coalesce(when(i < n, element_at(tk, i + 1) === col("mb")), lit(false))
    // a == b: left-greedy within each maximal run of a's. runOff is
    // the 0-based offset of position i inside its run (distance to
    // the nearest preceding non-a index); even offsets start merges.
    val lastNonA = (i: Column) => coalesce(
      when(i > 1, array_max(filter(sequence(lit(1), i - 1),
        j => element_at(tk, j) =!= col("ma")))), lit(0))
    val runOff = (i: Column) => i - lastNonA(i) - 1
    val isA = (i: Column) => element_at(tk, i) === col("ma")
    val headEq = (i: Column) => isA(i) && (runOff(i) % 2 === 0) &&
      coalesce(when(i < n, element_at(tk, i + 1) === col("ma")), lit(false))
    val droppedEq = (i: Column) => isA(i) && (runOff(i) % 2 === 1)
    val eqHalves = col("ma") === col("mb")
    val dropped = (i: Column) =>
      if (allowIdentical) when(eqHalves, droppedEq(i)).otherwise(droppedNe(i))
      else droppedNe(i)
    val head = (i: Column) =>
      if (allowIdentical) when(eqHalves, headEq(i)).otherwise(headNe(i))
      else headNe(i)
    df.withColumn("toks", transform(
      filter(sequence(lit(1), n), i => !dropped(i)),
      i => when(head(i),
        concat(col("ma"), lit("_"), col("mb")))
        .otherwise(element_at(tk, i))))
  }

  /** Apply one trained merge rule (a 1-row (ma, mb) frame) to every
    * document: 1-row broadcast + narrow rewrite. `tagCol` optionally
    * records the rule as a `<ma>_<mb>` column (training's merge_r).
    *
    * Empty-rule safety (round-12 advice): the broadcast rides a LEFT
    * join, not a crossJoin, so a 0-row pair frame (a training round
    * with no adjacent pairs left — all-single-token corpus, or rounds
    * beyond the available merges) passes every document through
    * UNCHANGED instead of silently emptying the corpus: with null
    * (ma, mb) every dropped/head predicate in [[rewriteToks]] folds to
    * false under its coalesce/three-valued-AND, so the rewrite is the
    * identity (RoundTwelveSpec pins it). A 1-row pair plans exactly as
    * the old crossJoin (BroadcastNestedLoopJoin on a 1-row build side).
    */
  def applyPair(df: DataFrame, pair: DataFrame,
      allowIdentical: Boolean = false,
      tagCol: Option[String] = None): DataFrame = {
    val joined = df.join(broadcast(pair), lit(true), "left")
    val tagged = tagCol.fold(joined)(c =>
      joined.withColumn(c, concat(col("ma"), lit("_"), col("mb"))))
    rewriteToks(tagged, allowIdentical).drop("ma", "mb")
  }

  /** One merge round: count adjacent pairs corpus-wide, broadcast the
    * argmax pair, rewrite every document's `toks`, and record the
    * winning pair as `merge_<r>`.
    */
  def mergeRound(df: DataFrame, r: Int,
      allowIdentical: Boolean = false): DataFrame =
    applyPair(df, topPair(df, allowIdentical), allowIdentical,
      tagCol = Some(s"merge_$r"))

  /** `rounds` composed merge rounds over a (…, toks ARRAY<STRING>)
    * frame; adds `merge_1 … merge_<rounds>` columns.
    */
  def mergeRounds(df: DataFrame, rounds: Int,
      allowIdentical: Boolean = false): DataFrame =
    (1 to rounds).foldLeft(df)((d, r) => mergeRound(d, r, allowIdentical))

  /** Train `rounds` merge rules on `train` and return them in
    * training order, each a lazily-composed 1-row (ma, mb) frame
    * (round r's argmax is computed over the corpus rewritten by
    * rounds 1..r-1, exactly as [[mergeRounds]] does).
    */
  def trainPairs(train: DataFrame, rounds: Int,
      allowIdentical: Boolean = false): Seq[DataFrame] = {
    var cur = train
    (1 to rounds).map { r =>
      val p = topPair(cur, allowIdentical)
      // checkpoint between rounds: round r's argmax is a SEPARATE
      // dataframe from round r+1's, so without materialization every
      // later round re-tokenizes and re-rewrites the training corpus
      // from scratch inside its own subtree (round-11 finding; PLANS.md
      // SCALE-BPEDEPTH measures per-round cost flat to 80 rounds)
      if (r < rounds) cur = applyPair(cur, p, allowIdentical).localCheckpoint()
      p
    }
  }

  /** Collapse a training corpus to its TYPE TABLE: one row per
    * DISTINCT `toks` array with its multiplicity `w`. This is the
    * bounded-state representation the fast trainer runs on — under
    * Heaps' law the table is bounded by the content vocabulary, not
    * the corpus (a duplicated corpus grows the weights, never the
    * table), so everything downstream of this one corpus-shaped
    * aggregate is corpus-size-independent.
    */
  def typeTable(df: DataFrame): DataFrame =
    df.groupBy(col("toks")).agg(count(lit(1)).as("w"))

  /** Weighted adjacency counts of a (toks, w) type table — the
    * maintained pair-count state of [[trainFast]], built once here
    * and then kept exact by per-round histogram-diff deltas.
    */
  def pairCounts(types: DataFrame,
      allowIdentical: Boolean = false): DataFrame =
    types.select(explode(packedAdjacent(allowIdentical)).as("ab"), col("w"))
      .filter(col("ab").isNotNull)
      .groupBy(col("ab")).agg(sum(col("w")).as("c"))

  /** The FAST TRAINER (round-12; the production-depth design stated
    * in the header, implemented): `rounds` merge rules over a
    * (toks, w) type table with INCREMENTAL pair-count maintenance —
    * no per-round corpus recount anywhere.
    *
    * Per round, all on bounded state:
    *  1. argmax (count desc, packed-pair asc — training's exact tie
    *     order) off the maintained pair-count table;
    *  2. ONE narrow pass splits the type table into types containing
    *     the merged pair (rewritten) and types that cannot change
    *     (passed through untouched);
    *  3. the rewritten types emit their exact adjacency-histogram
    *     diff (new pairs at +w, old pairs at −w) — delta volume is
    *     O(adjacencies of touched types), i.e. O(occurrences of the
    *     merged pair)-shaped, never corpus-shaped — folded into the
    *     counts table (zero-count pairs dropped; counts cannot go
    *     negative because the diff is exact by construction).
    *
    * The maintained counts equal a full recount of the rewritten
    * types at every round (inductively: the diff is exact), so the
    * rule sequence is BIT-IDENTICAL to [[trainPairs]] on the same
    * corpus — RoundTwelveSpec pins it for both merge policies
    * including count ties, and x124 proves it corpus-wide under the
    * DuckDB recount oracle. Both per-round frames are
    * localCheckpoint'd (types: vocabulary-bounded; counts:
    * pair-vocabulary-bounded) — bounded-state materialization, the
    * Components discipline, zero driver state.
    *
    * An exhausted corpus (no adjacent pair left under the policy)
    * yields 0-row rules from that round on, exactly like
    * [[trainPairs]]; the left-join rewrite passes types through
    * unchanged (the round-12 empty-rule guard).
    */
  def trainFast(types0: DataFrame, rounds: Int,
      allowIdentical: Boolean = false): Seq[DataFrame] =
    trainFastState(types0, rounds, allowIdentical)._1

  /** [[trainFast]] plus its final internal state
    * (rules, types, counts) — the counts invariant is spec-checked
    * against a fresh recount of the returned types.
    */
  private[graft] def trainFastState(types0: DataFrame, rounds: Int,
      allowIdentical: Boolean = false)
      : (Seq[DataFrame], DataFrame, DataFrame) = {
    val dbg = sys.env.contains("SPARK_GRAFT_BPEFAST_DEBUG")
    var types = types0.localCheckpoint()
    // the per-round union (untouched ++ rewritten) CONCATENATES its
    // legs' partitions — unchecked, the type table's partition count
    // doubles every round (32 → 2048 by round 7 in the SCALE-BPEFAST
    // A/B, with per-round wall time going geometric on pure task
    // latency). Coalesce every round back to the input's partition
    // count: narrow, no shuffle, and per-round cost goes flat.
    val nParts = math.max(types.rdd.getNumPartitions, 1)
    var counts = pairCounts(types, allowIdentical).localCheckpoint()
    import types0.sparkSession.implicits._
    val rules = (1 to rounds).map { r =>
      val tR = System.nanoTime()
      // Collect the round's winning pair ONCE and re-wrap it as a
      // 1-row (or 0-row, corpus exhausted) LOCAL relation. The lazy
      // TakeOrdered subtree used to re-execute as a separate Spark job
      // every time `p` was consumed — the counts checkpoint's
      // broadcast build, the types checkpoint's broadcast build, and
      // collectRules later — three jobs per round for one top-1 row
      // (round-16; ~2 jobs × rounds saved, and collectRules on a
      // LocalRelation no longer launches jobs at all). Same winning
      // pair: the collect runs the identical orderBy/limit plan.
      val topRow = counts
        .orderBy(col("c").desc, col("ab")).limit(1)
        .select(split(col("ab"), sep).getItem(0).as("ma"),
          split(col("ab"), sep).getItem(1).as("mb")).collect()
      val p = topRow.toSeq.map(row => (row.getString(0), row.getString(1)))
        .toDF("ma", "mb")
      if (r < rounds) {
        val packed = concat(col("ma"), lit(sep), col("mb"))
        val tagged = types.join(broadcast(p), lit(true), "left")
          .withColumn("_hit", coalesce(
            exists(packedAdjacent(allowIdentical), e => e === packed),
            lit(false)))
        val untouched = tagged.filter(!col("_hit"))
          .drop("_hit", "ma", "mb")
        val touchedOld = tagged.filter(col("_hit"))
        val touchedNew = rewriteToks(touchedOld, allowIdentical)
          .drop("_hit", "ma", "mb")
        val delta = touchedNew
          .select(explode(packedAdjacent(allowIdentical)).as("ab"),
            col("w").as("d"))
          .unionByName(touchedOld.drop("_hit", "ma", "mb")
            .select(explode(packedAdjacent(allowIdentical)).as("ab"),
              (-col("w")).as("d")))
          .filter(col("ab").isNotNull)
        // The two round outputs are independent given the OLD
        // (checkpointed) types/counts — materialize them as
        // CONCURRENT jobs (guide §2.6: overlap independent jobs) so
        // the round's wall time is max(counts, types) instead of the
        // sum. Each action still recomputes the tagged/rewrite
        // subtree, but at vocabulary-table size that recompute is
        // cheaper than a third checkpoint to share it (the x56
        // scan-twice-materialize-never receipt).
        val tC = System.nanoTime()
        val oldCounts = counts
        val countsF = scala.concurrent.Future {
          oldCounts.select(col("ab"), col("c").as("d"))
            .unionByName(delta)
            .groupBy(col("ab")).agg(sum(col("d")).as("c"))
            .filter(col("c") > 0)
            .localCheckpoint()
        }(scala.concurrent.ExecutionContext.global)
        val typesF = scala.concurrent.Future {
          untouched.unionByName(touchedNew)
            .coalesce(nParts).localCheckpoint()
        }(scala.concurrent.ExecutionContext.global)
        // failure coordination (r17, the r16 ADVICE item): await BOTH
        // futures before propagating — a throw from one must not
        // leave the sibling's Spark job running detached — and
        // unpersist a surviving orphan's checkpoint blocks
        val cTry = scala.concurrent.Await.ready(
          countsF, scala.concurrent.duration.Duration.Inf).value.get
        val dtC = (System.nanoTime() - tC) / 1e9
        val tT = System.nanoTime()
        val tTry = scala.concurrent.Await.ready(
          typesF, scala.concurrent.duration.Duration.Inf).value.get
        (cTry, tTry) match {
          case (scala.util.Success(c), scala.util.Success(t)) =>
            counts = c; types = t
          case _ =>
            cTry.foreach(_.unpersist()); tTry.foreach(_.unpersist())
            throw cTry.failed.toOption.orElse(tTry.failed.toOption).get
        }
        val dtT = (System.nanoTime() - tT) / 1e9
        if (dbg) println(f"BPEFAST-DBG round=$r counts_ckpt=$dtC%6.2fs " +
          f"types_ckpt=$dtT%6.2fs counts_n=${counts.count()}%8d " +
          f"types_n=${types.count()}%6d " +
          f"tparts=${types.rdd.getNumPartitions}")
      }
      if (dbg) {
        val dtR = (System.nanoTime() - tR) / 1e9
        println(f"BPEFAST-DBG round=$r dt=$dtR%6.2fs")
      }
      p
    }
    (rules, types, counts)
  }

  /** ENCODE: apply a trained merge sequence to any corpus — the
    * tokenizer hot path. Pure narrow maps under k 1-row broadcasts;
    * applying the rules in training order makes encode(train corpus)
    * reproduce the trained corpus row for row.
    */
  def encode(df: DataFrame, pairs: Seq[DataFrame],
      allowIdentical: Boolean = false): DataFrame =
    pairs.foldLeft(df)((d, p) => applyPair(d, p, allowIdentical))

  /** Resolve trained pair frames to plain (a, b) rules — k strings of
    * driver state, the StreamBloom fold-once discipline. Each collect
    * executes that round's (bounded) training subtree once.
    */
  def collectRules(pairs: Seq[DataFrame]): Seq[(String, String)] =
    pairs.map { p =>
      val r = p.collect()(0)
      (r.getString(0), r.getString(1))
    }

  /** Encode under a FROZEN rule list (literals, no joins at all) — the
    * streaming-safe form: a pure narrow map a continuous query can run
    * per arriving row with no state and no stream-static join.
    */
  def encodeFrozen(df: DataFrame, rules: Seq[(String, String)],
      allowIdentical: Boolean = false): DataFrame =
    rules.foldLeft(df) { case (d, (a, b)) =>
      rewriteToks(
        d.withColumn("ma", lit(a)).withColumn("mb", lit(b)),
        allowIdentical).drop("ma", "mb")
    }

  /** Encode under a frozen rule list via the NATIVE single-expression
    * form ([[org.apache.spark.sql.graft.BpeEncodeRules]]) — identical
    * output to [[encodeFrozen]] (RoundTwelveSpec pins bit-equality),
    * but the plan holds ONE expression regardless of rule count where
    * encodeFrozen nests k rewrite layers: the form that stays viable
    * at production vocabulary depth (k ≈ 30k), per the CdcBoundaries
    * precedent. SCALE-BPENATIVE carries the A/B receipt.
    */
  def encodeNative(df: DataFrame,
      rules: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    df.withColumn("toks", GraftExpressionBridge.column(
      org.apache.spark.sql.graft.BpeEncodeRules(
        GraftExpressionBridge.expression(col("toks")), rules)))
  }
}
