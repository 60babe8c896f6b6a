package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Text

/** Dev utility: synthesize a k×-scaled copy of a driver testdata dir
  * (round-7 verdict #4 — "no validation above sf0.1"), so Bench and
  * the DuckDB oracle can run at ~sf1 on the 128 GiB sandbox —
  * `runMain graft.MakeSf <srcDir> <outDir> <k>`.
  *
  * Scaling discipline (SCALE-SF10's generator in PLANS.md, extended to
  * the whole star schema): copy c of each table shifts every key by
  * c·10⁷, consistently on BOTH sides of each FK (o_custkey moves with
  * c_custkey, l_orderkey/l_partkey/l_suppkey with their dimensions),
  * so referential integrity and per-key fan-outs are preserved
  * exactly — joins at k× do k× the work, never k² and never zero.
  * `region`/`nation` stay fixed (TPC-H keeps them constant across
  * SF, and the nationkey FKs still resolve).
  *
  * Content columns grow the way a real corpus grows — linearly, with
  * vocabulary growth, WITHOUT manufacturing k near-identical copies
  * of everything (which would multiply dedup pair counts ~k²/2 and
  * measure a corpus no one ingests):
  *  - documents: copy c suffixes every token with `_c<c>` — shingle
  *    sets disjoint from copy 0, so each copy contributes its own
  *    internal near-dup structure (pairs scale k×) and DISTINCT
  *    vocabulary (the heavy-tailed growth the x53/x69 bounded-domain
  *    rewrites exist for); n_chars is recomputed to keep its
  *    n_chars = length(text) invariant.
  *  - embeddings: copy c adds a deterministic per-(vec_id, dim, c)
  *    hash perturbation of ±0.1 — far outside near-dup cosine bands,
  *    so ANN candidate structure scales linearly too.
  *  - events: ids shift; timestamps keep their distribution (k× the
  *    traffic in the same window, which is how event volume actually
  *    scales — sessions multiply by users, not by length).
  *
  * Each table lands as a single `<name>.parquet` FILE (renamed out of
  * the Spark staging dir) to match the driver layout that
  * `scripts/check.py` and [[Tables]] expect; parquet row groups keep
  * a single file splittable for Spark-side parallelism.
  */
object MakeSf {
  // 10⁸ (round-15, was 10⁷): k=100 copies of 600k-row tables need
  // distinct shift bands up to 6·10⁷. Both engines read whatever ids
  // the files carry, so the band width is invisible to every
  // query/oracle pair — only the safe-range require below cares.
  private val Shift = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val k = args(2).toInt
    require(k >= 1 && k * 600000L < Shift, s"k=$k out of the safe shift range")
    // Optional key=value flags after the three positionals (round-16):
    //  tables=a,b  — write only the named tables (fixture runs that
    //                need ONE axis scaled — e.g. the planes≥9 LSH
    //                proof needs only a >65k-row embeddings table —
    //                shouldn't pay for 18M lineitem rows);
    //  stretch=1   — scale the EVENT TIME WINDOW with k instead of
    //                packing k× the events into the same window: copy
    //                c shifts ts by c×(span days), so temporal density
    //                stays production-shaped (10× events span 10× the
    //                time — the way event volume actually grows).
    //                Without it, every window/range query's match
    //                volume grows k² by construction (q25's sf10
    //                receipt measured 100× output for 10× data);
    //  single=1    — force the one-file-per-table driver layout past
    //                k=16 (small table subsets write fast regardless);
    //  rowgroup=N  — parquet row-group size in BYTES (default 4 MB,
    //                round-17): every sf0.1-scale table is SMALLER
    //                than one 4 MB group, so those files are
    //                unsplittable and every scan runs on one core —
    //                the r16 verdict's "8 cores beat 32" finding.
    //                rowgroup=262144 makes a small-SF fixture scan
    //                with production-file-count parallelism.
    val flags = args.drop(3).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"flag '$a' is not key=value")
      (a.substring(0, i), a.substring(i + 1))
    }.toMap
    val tablesFilter: Option[Set[String]] =
      flags.get("tables").map(_.split(",").toSet)
    val stretch = flags.get("stretch").contains("1")
    // Single-writer bound (round-8 verdict task #8), lifted to a
    // LAYOUT SWITCH (round-15, for the k=100 sf10 receipt): up to
    // k=16 each table lands as the driver's ONE <name>.parquet FILE
    // (coalesce(1) — that final write serializes on one task,
    // ~90s/10 GB, fine to ~sf1.6 and keeps scripts/check.py's DuckDB
    // read trivially working). Past k=16 the sequential write would
    // dominate the run, so <name>.parquet becomes a DIRECTORY of part
    // files — spark.read.parquet (Tables) reads a directory path
    // transparently, and DuckDB's read_parquet takes a glob if an
    // oracle pass is ever wanted at that scale.
    val singleFile = k <= 16 || flags.get("single").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      // 4 MB parquet row groups (default 128 MB would pack sf1's whole
      // 113 MB lineitem into ONE row group): a single-row-group file is
      // unsplittable no matter what maxPartitionBytes says, so every
      // scan — and everything pipelined on top of it — runs on one
      // core. Production tables arrive as many files; many row groups
      // in the one driver-layout file reproduces that parallelism
      // locally (round-10 sf1 postmortem: q25 spent 50 s isolated on a
      // 1-core 28.7M-row fan-out join for exactly this reason).
      .config("spark.hadoop.parquet.block.size",
        flags.getOrElse("rowgroup", (4 * 1024 * 1024).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(name: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = Tables(spark, src, name)
      (0 until k).map(c => f(base, c)).reduce(_ unionByName _)
    }
    def shifted(df: DataFrame, c: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, key) => d.withColumn(key, col(key) + c * Shift))

    def write(df: => DataFrame, name: String): Unit = {
      if (!tablesFilter.forall(_.contains(name))) return
      val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dest = new Path(out, s"$name.parquet")
      if (singleFile) {
        val staging = new Path(out, s"_staging_$name")
        df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
        val part = fs.listStatus(staging)
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file for $name"))
        fs.delete(dest, false)
        require(fs.rename(part, dest), s"rename failed for $name")
        fs.delete(staging, true)
      } else {
        // directory layout: parallel write, file count = task count
        fs.delete(dest, true)
        df.write.mode("overwrite").parquet(dest.toString)
      }
      println(s"MAKESF $name rows=${spark.read.parquet(dest.toString).count()}")
    }

    write(Tables(spark, src, "region"), "region")
    write(Tables(spark, src, "nation"), "nation")
    write(copies("customer")(shifted(_, _, "c_custkey")), "customer")
    write(copies("supplier")(shifted(_, _, "s_suppkey")), "supplier")
    write(copies("part")(shifted(_, _, "p_partkey")), "part")
    write(copies("orders")(shifted(_, _, "o_orderkey", "o_custkey")), "orders")
    write(copies("lineitem")(
      shifted(_, _, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write({
      if (!stretch) copies("events")(shifted(_, _, "event_id", "user_id"))
      else {
        // stride = whole-day span of the base window + 1 day margin,
        // computed ONCE (a bounded 2-value aggregate): copy c lands in
        // its own disjoint window, so per-window event density — and
        // with it every range-join's matches-per-interval — is k-invariant
        val r = Tables(spark, src, "events")
          .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
          .selectExpr(
            "CAST(datediff(CAST(mx AS DATE), CAST(mn AS DATE)) AS INT) + 1" +
              " AS stride")
          .head()
        val strideDays = r.getInt(0)
        copies("events") { (df, c) =>
          shifted(df, c, "event_id", "user_id")
            .withColumn("ts",
              col("ts") + expr(s"INTERVAL ${c.toLong * strideDays} DAYS"))
        }
      }
    }, "events")

    write(copies("documents") { (df, c) =>
      val base = shifted(df, c, "doc_id")
      if (c == 0) base
      else base
        .withColumn("text", array_join(
          transform(Text.tokens(col("text")),
            t => concat(t, lit(s"_c$c"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    write(copies("embeddings") { (df, c) =>
      val base = shifted(df, c, "vec_id")
      if (c == 0) base
      else base.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          x + ((pmod(xxhash64(col("vec_id"), i, lit(c)), lit(2001L)) - 1000L)
            .cast("float") * lit(1e-4f))))
    }, "embeddings")

    spark.stop()
  }
}
