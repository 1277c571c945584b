package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for corpus pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Everything is shuffle-conscious: exact dedup is one hash aggregation;
  * MinHash is explode → partial-agg → band-key join (never all-pairs);
  * n-gram Jaccard limits the quadratic step to small band buckets. At 100 TB
  * the only all-pairs computation ever performed is within an LSH/band
  * bucket.
  */
object Dedup {

  /** Per-group exact-duplicate stats: docs, distinct texts, dup count. */
  def exactStats(docs: DataFrame, textCol: String, groupCol: String): DataFrame =
    docs.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol).cast("binary"))).as("n_unique"),
        (count(lit(1)) - countDistinct(md5(col(textCol).cast("binary")))).as("n_dups"))

  /** Per-exact-hash-group summary: one row per distinct text with the min
    * doc_id as the group's canonical representative and the group size.
    * (Group-level view; see [[exactCanonicalMap]] for the per-doc mapping.) */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol).cast("binary")).as("h")
    docs.select(col(idCol), h)
      .groupBy(col("h"))
      .agg(min(col(idCol)).as("canonical"), count(lit(1)).as("group_size"))
  }

  /** Benchmark decontamination: for each training doc, the fraction of its
    * DISTINCT 3-word shingles that appear anywhere in the eval/benchmark
    * set — the standard test-set-leakage check run before LLM training
    * (e.g. GPT-3 appendix C / PaLM-style n-gram overlap).
    *
    * Scale shape: shingles are exploded and deduped per doc (one map-side-
    * combined aggregation); the eval side collapses to a DISTINCT shingle
    * set, which is small by construction (benchmarks are MBs, corpora are
    * TBs) and therefore broadcast — the corpus is never shuffled by the
    * probe, and nothing is ever all-pairs. */
  def contaminationScores(train: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def sh(df: DataFrame) = df
      .select(col(idCol), explode(TextFunctions.shingles3(col(textCol))).as("sh"))
      .distinct()
    val trainSh = sh(train)
    val evalSh = sh(evalSet).select(col("sh")).distinct()
    val tot = trainSh.groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val hits = trainSh.join(broadcast(evalSh), "sh")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    tot.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / col("n_shingles")).as("score"))
  }

  /** Per-doc canonical mapping: every doc joined back to its group's
    * canonical id, with `is_dup` marking non-canonical members — the form a
    * dedup pipeline consumes (keep `!is_dup`, or rewrite references to the
    * canonical). One aggregation + one hash join on the text hash. */
  def exactCanonicalMap(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withH = docs.select(col(idCol), md5(col(textCol).cast("binary")).as("h"))
    withH.join(exactCanonical(docs, idCol, textCol), "h")
      .select(col(idCol), col("canonical"),
        (col(idCol) =!= col("canonical")).as("is_dup"))
  }

  /** MinHash signatures: k seeded min-hashes over 3-word shingles.
    *
    * Hash = md5(seed || '|' || shingle); the per-seed minimum is taken
    * lexicographically on the hex string, which is engine-independent (the
    * DuckDB oracle reproduces it exactly — no xxhash64 dependence).
    * Returns (doc_id, seed, m).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // One shingle explode, k min() aggregate columns — NOT a k× seed
    // explode: partial aggregation (map-side combine) reduces each partition
    // to one row per doc before the single shuffle, so the shuffled volume
    // is rows×k hashes instead of rows×shingles×k. min over the shingle
    // multiset equals min over the set, so no distinct is needed either.
    // The fixture is one parquet file → one input partition; fan out before
    // the explode so shingling/hashing parallelizes (at real scale the
    // source would already be many splits, making this a cheap no-op-ish
    // round-robin).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val shingled = docs.repartition(par)
      .select(col(idCol).as("doc_id"), explode(TextFunctions.shingles3(col(textCol))).as("sh"))
    // k hash functions from ceil(k/4) md5 calls: each md5 yields four
    // independent 8-hex-char (32-bit) slices, and the lexicographic min of a
    // fixed-width hex slice equals the numeric min. Halves the dominant
    // md5 cost vs one call per seed, with identical LSH behavior.
    val minCols = (0 until k).map { i =>
      val salt = i / 4
      val off = 1 + 8 * (i % 4)
      min(substring(md5(concat(lit(s"$salt|"), col("sh")).cast("binary")), off, 8)).as(s"m$i")
    }
    val wide = shingled.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    // unpivot back to the (doc_id, seed, m) interface
    val stackArgs = (0 until k).map(i => s"$i, m$i").mkString(", ")
    wide.selectExpr("doc_id", s"stack($k, $stackArgs) AS (seed, m)")
  }

  /** Fused-signature variant: (doc_id, sig: array<string> of the k minima)
    * via the one-pass `MinHashSig` kernel — same bits as
    * [[minhashSignatures]] with NO explode and NO shuffle (see
    * graft.functions.MinHashSig; DifferentialFuzzSpec asserts equality). */
  def minhashSignatureArray(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // fan out ONLY when the input is under-partitioned (the single-file
    // fixture case); an already-split 100 TB source must not be reshuffled
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)), k)).as("sig"))
  }

  /** Band keys straight from the signature array — a pure projection
    * (band b = md5 of the concatenated minima in band-b positions), so the
    * whole signatures→bands pipeline is shuffle-free. Band count is
    * ceil(k / rowsPerBand): a non-divisor leaves a shorter final band
    * (slice truncates), exactly like [[lshBands]]'s seed-div grouping. */
  def lshBandsFromArray(sigArr: DataFrame, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1, "rowsPerBand >= 1")
    val k = rowsPerBand
    sigArr.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(sig) + $k - 1) div $k - 1), " +
          s"b -> md5(cast(concat_ws('', slice(sig, b * $k + 1, $k)) as binary)))"))
          .as(Seq("band", "bkey")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("bkey"))
  }

  /** LSH band keys: group the k signatures into bands of `rowsPerBand`,
    * key = md5 of the seed-ordered concatenation. Returns (doc_id, band, bkey). */
  def lshBands(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs
      .groupBy(col("doc_id"), floor(col("seed") / rowsPerBand).cast("long").as("band"))
      .agg(md5(concat_ws("",
        transform(sort_array(collect_list(struct(col("seed"), col("m")))),
          s => s.getField("m"))).cast("binary")).as("bkey"))

  /** Candidate near-dup pairs: docs sharing any band bucket. */
  def lshCandidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("bkey"), col("doc_id").as("ida"))
    val b = bands.select(col("band"), col("bkey"), col("doc_id").as("idb"))
    a.join(b, Seq("band", "bkey")).where(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
  }

  /** SimHash aggregator: per-bit majority vote over 64-bit word hashes.
    * The reference exposes custom accumulators for exactly this kind of
    * sketch (AggregateUDFImpl / GroupsAccumulator — expr/src/udaf.rs:445);
    * Spark's native equivalent is a typed Aggregator registered via
    * functions.udaf. */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) buf(i) += 1 else buf(i) -= 1; i += 1 }
      buf
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Int]): Long = {
      var out = 0L
      var i = 0
      while (i < 64) { if (buf(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    // primitive-array ExpressionEncoder: the buffer ser/des on every partial
    // merge, and the native ArrayType codec is ~10x cheaper than Java
    // serialization at text-corpus aggregation volumes
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** 64-bit SimHash per document over xxhash64 word hashes. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sim = udaf(SimHashAgg)
    docs
      .select(col(idCol).as("doc_id"), explode(TextFunctions.words(col(textCol))).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(sim(col("h")).as("simhash"))
  }

  /** SimHash near-dup candidates: docs agreeing on any 16-bit band, verified
    * by hamming distance ≤ maxHamming (bit_count of xor). */
  def simhashPairs(sims: DataFrame, maxHamming: Int): DataFrame = {
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", expr("shiftrightunsigned(simhash, CAST(band * 16 AS INT)) & 65535"))
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("ida"), col("simhash").as("sa"))
    val b = banded.select(col("band"), col("bkey"), col("doc_id").as("idb"), col("simhash").as("sb"))
    a.join(b, Seq("band", "bkey")).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** n-gram (3-word shingle) Jaccard for pairs within a band (same grouping
    * key): banded all-pairs over distinct shingle SETS
    * (array_intersect/union).
    *
    * An inverted-index formulation (join on shared shingle) is the textbook
    * scale answer, but it degenerates on low-vocabulary corpora where every
    * shingle is shared by many docs (Σf² row blowup — measured 40% slower
    * on this fixture). The banded set compare is robust to both regimes;
    * the band key bounds the quadratic work.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String, bandCol: Column): DataFrame = {
    val spark = docs.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // Shingles are pre-hashed to 64-bit once per document: the pairwise
    // set-intersection then probes fixed-width longs instead of re-hashing
    // every shingle string for every partner the doc meets in its bucket.
    // Jaccard over hashed shingles equals Jaccard over the strings absent a
    // 64-bit collision inside one document pair's union (~|U|²/2⁶⁴).
    //
    // r14: ONE shingling pass, materialized. The self-join used to compute
    // the split→shingle→hash pipeline on BOTH sides (r14 profile: 557 ms
    // broadcast-build + 551 ms probe stage of a 1.75 s steady run, plus an
    // 11.6 s first-run codegen bill for 2-3 copies of the giant expression
    // tree). localCheckpoint stores the narrow (doc_id, bucket, sh) rows
    // once on the executors — both sides read it, and AQE sees its REAL
    // materialized size instead of flip-flopping the join strategy on a
    // borderline estimate (eager, per-invocation lifecycle — the
    // cutRepeatedSpans precedent; never a cross-run cache). The spread is
    // gated: a many-split real corpus skips it (ngramWindows precedent).
    val d0 = docs.select(col(idCol).as("doc_id"), bandCol.as("bucket"),
      col(textCol).as("text"))
    val spread = if (d0.rdd.getNumPartitions < par)
      d0.repartition(par, col("doc_id")) else d0
    val prepped = JobDescription.describe(spark, "Dedup.ngramJaccardPairs",
        "checkpoint of the hashed shingles") {
      spread.select(col("doc_id"), col("bucket"),
        array_distinct(transform(TextFunctions.shingles3(col("text")), xxhash64(_))).as("sh"))
        .localCheckpoint(true)
    }
    // r14 hot-bucket triangle split (guide §2.5): a bucket with B docs is
    // ONE join key, so its whole B² set-probe pass lands on a single task —
    // at corpus scale one hot (source, lang, band) bucket is a job-killing
    // straggler. GATED on a measured hot bucket actually existing: the max
    // bucket size is one tiny aggregate over the checkpointed rows (an A/B
    // in OPTIMIZATION_r14.md measured the always-on triangle apparatus at
    // ~0.7 s on the flat sf0.1 distribution — max bucket 54 docs — while the
    // checkpoint alone is a 1.6× win; pay the split only when it buys
    // something). Past the gate, buckets split into k = ⌈B/cap⌉ (≤64)
    // deterministic salt classes (pmod(xxhash64(doc_id), k)); each doc is
    // replicated to the k triangle cells (min(s,j), max(s,j)) so every pair
    // meets in EXACTLY one cell: for salts u≠v the cell sets intersect only
    // at (min(u,v), max(u,v)), and for u=v the explicit cell==(u,u) filter
    // keeps one of the k shared cells. Same pairs, same jaccard — spread
    // over k(k+1)/2 tasks.
    val cap = spark.conf.get("spark.graft.ngramPairs.bucketCap", "4096").toInt
    // Gate statistic WITHOUT an exchange: a DataFrame groupBy+max+first
    // costs 2 exchanges / 4 stages of launch latency (~0.45 s measured at
    // sf0.1) just to learn one number; a partition-local count-map reduce
    // is one job over the checkpointed rows (map size ≤ |buckets|, bounded
    // by |sources × langs × bands| at any scale). A NULL bucket never
    // equi-joins, so its rows are skipped (as BitmapJoin skips NULL keys).
    val maxBn = JobDescription.describe(spark, "Dedup.ngramJaccardPairs",
        s"bucket-cap gate: largest bucket vs cap $cap") {
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.GraftSqlBridge.internalRdd(
        prepped.select(col("bucket"))).mapPartitions { it =>
        val m = new java.util.HashMap[String, java.lang.Long]()
        it.foreach(r => if (!r.isNullAt(0))
          m.merge(r.getString(0), 1L, (a: java.lang.Long, b: java.lang.Long) => a + b))
        Iterator.single(m)
      }.fold(new java.util.HashMap[String, java.lang.Long]()) { (a, b) =>
        b.forEach((k, v) => a.merge(k, v, (x: java.lang.Long, y: java.lang.Long) => x + y))
        a
      }.values.asScala.foldLeft(0L)((acc, v) => math.max(acc, v.longValue))
    }
    val counts = prepped.groupBy("bucket").agg(count(lit(1)).as("_bn"))
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
    if (maxBn <= cap) {
      val a = prepped.select(col("bucket"), col("doc_id").as("ida"), col("sh").as("sha"))
      val b = prepped.select(col("bucket"), col("doc_id").as("idb"), col("sh").as("shb"))
      // |A∪B| = |A|+|B|−|A∩B|: one set-probe pass per pair, no union array.
      a.join(b, Seq("bucket")).where(col("ida") < col("idb"))
        .select(col("ida"), col("idb"),
          (inter / (size(col("sha")) + size(col("shb")) - inter)).as("jaccard"))
    } else {
      val cells = prepped.join(broadcast(counts), "bucket")
        .withColumn("_k", least(ceil(col("_bn").cast("double") / cap), lit(64L)).cast("int"))
        .withColumn("_s", pmod(xxhash64(col("doc_id")), col("_k")).cast("int"))
        .select(col("doc_id"), col("bucket"), col("sh"), col("_s"),
          explode(expr("transform(sequence(0, _k - 1), " +
            "j -> named_struct('ci', least(_s, j), 'cj', greatest(_s, j)))")).as("_cell"))
      val a = cells.select(col("bucket"), col("_cell"), col("doc_id").as("ida"),
        col("_s").as("_sa"), col("sh").as("sha"))
      val b = cells.select(col("bucket"), col("_cell"), col("doc_id").as("idb"),
        col("_s").as("_sb"), col("sh").as("shb"))
      a.join(b, Seq("bucket", "_cell"))
        .where(col("ida") < col("idb") &&
          least(col("_sa"), col("_sb")) === col("_cell.ci") &&
          greatest(col("_sa"), col("_sb")) === col("_cell.cj"))
        .select(col("ida"), col("idb"),
          (inter / (size(col("sha")) + size(col("shb")) - inter)).as("jaccard"))
    }
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation — the final step of near-dup pipelines: LSH
    * candidate pairs are edges, each component is one duplicate cluster,
    * and the component's minimum doc id is the canonical document.
    *
    * Each round is one propagation shuffle (edges ⋈ labels → groupBy-min)
    * followed by a path-halving relabel (component ← label(component), one
    * more join) — the pointer-jumping step that collapses chains
    * geometrically, bounding rounds at O(log diameter) instead of
    * O(diameter) (cf. Kiveris et al., "Connected Components in MapReduce
    * and Beyond"). Labels only ever decrease, so the fixpoint test is "did
    * sum(label) change", costing no extra join. Every frontier is
    * localCheckpoint'ed: without it the plan tree doubles per iteration
    * and the optimizer, not the data, becomes the bottleneck. Dup clusters
    * are near-cliques (diameter ≤ 2-3) and converge in ~2 rounds at any
    * corpus size; `maxRounds` is a safety net, not a tuning knob.
    *
    * Returns (node, component) for every node that appears in an edge.
    * Reference analogue: none — DataFusion has no graph step; this is part
    * of the training-pipeline surface built on top of the engine.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50): DataFrame = {
    val fwd = edges.select(col(srcCol).cast("long").as("src"),
                           col(dstCol).cast("long").as("dst"))
    val spark = edges.sparkSession
    val sym = JobDescription.describe(spark, "Dedup.connectedComponents",
        "checkpoint of the symmetric edges") {
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))).localCheckpoint(true)
    }
    // r13: no separate identity-label init. Round 0's propagation over
    // identity labels is just the edge list itself — (dst ← src) messages
    // unioned with (src ← src) self-labels, grouped by min — so the
    // init-distinct's shuffle + checkpoint and round 0's join are folded
    // into the first aggregation (two fewer jobs per invocation, identical
    // labels after round 0: min(self, neighbors)).
    var labels: DataFrame = null
    var prevSum = BigDecimal(-1)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val prop = (if (round == 0)
          sym.select(col("dst").as("node"), col("src").as("component"))
            .union(sym.select(col("src").as("node"), col("src").as("component")))
        else
          labels.union(sym.join(labels, sym("src") === labels("node"))
            .select(sym("dst").as("node"), col("component"))))
        .groupBy("node").agg(min("component").as("component"))
      // Path halving: jump each pointer to its target's own label. Every
      // component value is itself a labeled node, so the lookup join hits
      // (coalesce guards the root, whose label is itself). Skipped in
      // round 0: near-clique dup graphs reach fixpoint there, and halving
      // only pays once labels are stale (chains).
      // r14 NOTE: folding this fixpoint statistic into the checkpoint
      // materialization via observe() (VERDICT item 8) was implemented and
      // REVERTED: Spark 4.1's classic SparkSession holds its
      // ObservationManager in a NON-transient lazy val and the manager is
      // not Serializable, so the FIRST observe() on a session permanently
      // breaks every later Java-serialization of that session — e.g. the
      // streaming TransformWithState processor that captures it
      // (QueriesSpec stream_tws_profile failed with Task not serializable
      // once dedup_cluster had run first in the shared test session). One
      // small job per round is not worth a session-wide landmine.
      val (next, s) = JobDescription.describe(spark, "Dedup.connectedComponents",
          s"fixpoint round $round: label checkpoint and convergence sum") {
        val next = (if (round == 0) prop
          else {
            val lk = prop.select(col("node").as("l_node"), col("component").as("l_comp"))
            prop.join(lk, prop("component") === lk("l_node"), "left")
              .select(prop("node"),
                coalesce(col("l_comp"), prop("component")).as("component"))
          }).localCheckpoint(true)
        (next, Option(next.agg(sum(col("component").cast("decimal(30,0)")))
          .first().getDecimal(0)).map(BigDecimal(_)).getOrElse(BigDecimal(-2)))
      }
      done = s == prevSum
      prevSum = s
      labels = next
      round += 1
    }
    labels
  }

  /** Cross-document repeated n-gram windows — the exact SUBSTRING-level
    * dedup signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": repeated ≥n-token spans across documents are the
    * memorization drivers that document-level dedup misses; the paper's
    * suffix-array pass distributes as this rolling-window form).
    *
    * Emits one row per (doc_id, win) token window. Downstream: group by
    * window, keep those spanning >1 distinct doc, join back to locate the
    * spans to cut. Scale design: windows are materialized per-partition
    * from the token array (no shuffle to build them); when `hashed`, the
    * group key is the window's xxhash64 so the shuffle carries 8-byte keys
    * instead of n-token strings (collision probability ~N²/2⁶⁵ —
    * negligible at any corpus size that fits a cluster; the fixture
    * entries use exact strings so the DuckDB differential is
    * collision-free by construction). */
  def ngramWindows(docs: DataFrame, idCol: String, textCol: String,
      n: Int, hashed: Boolean = false): DataFrame = {
    // The window explode multiplies rows ~#tokens×, but its parallelism is
    // inherited from the SOURCE scan — a compact documents file yields 1-2
    // splits and the whole shingling pass runs on 2 cores (measured 949 ms
    // of a 1.9 s sf0.1 run in one 2-task stage). Repartition the narrow
    // (id, text) input up to the session's parallelism first; at cluster
    // scale the corpus arrives as many files and this is a no-op.
    val target = docs.sparkSession.sparkContext.defaultParallelism
    // hash on the id (NOT round robin): RoundRobinPartitioning is
    // nondeterministic, which disqualifies every exchange above it from
    // ReusedExchange — the very reuse cutRepeatedSpans depends on
    val spread =
      if (docs.rdd.getNumPartitions >= target) docs
      else docs.repartition(target, col(idCol))
    val toks = spread.select(col(idCol).as("doc_id"),
      TextFunctions.words(col(textCol)).as("a"))
      .filter(size(col("a")) >= n)
    // r14: one-pass window kernel — the transform/slice/concat_ws form
    // rebuilt every window from an n-element slice (O(tokens×n) bytes and
    // a giant codegen tree: 533 ms of text_repeated_ngrams' 1.58 s steady
    // profile, 8.8 s first-run compile); NgramWindows joins the tokens
    // once and emits windows as zero-copy slices of that buffer.
    // Bit-identical output (PipelineSpec asserts against the old expression).
    val w = toks.select(col("doc_id"),
      posexplode(org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.NgramWindows(
          org.apache.spark.sql.GraftSqlBridge.expression(col("a")), n)))
        .as(Seq("pos", "win")))
    if (hashed)
      w.select(col("doc_id"), col("pos"), xxhash64(col("win")).as("win"))
    else w
  }

  /** Remove cross-document repeated n-gram SPANS, keeping one global
    * occurrence per window (the paper's all-but-one cut): for every window
    * that appears in >1 distinct doc, every occurrence except the globally
    * first (min (doc_id, pos)) is cut; per doc, overlapping cut windows
    * merge into maximal token spans (gaps-and-islands over a running-max
    * window) and the text is rebuilt without them — all in-plan, the
    * reconstruct is a codegen lambda over the token array.
    *
    * Returns (doc_id, text, n_tokens_before, n_tokens_after). Scale: one
    * window-build pass, one groupBy on the window key (hashable — see
    * [[ngramWindows]]), one per-doc sort of its CUT windows only (bounded
    * by dup volume, not corpus size). */
  def cutRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One shingling pass, not two: both consumers below (the stats
    // aggregate and the join probe) need the full windows table, and their
    // exchange shapes differ (distinct-agg phases vs raw probe) so
    // ReusedExchange cannot unify them — without materialization the
    // Generate over the whole corpus runs twice. localCheckpoint stores
    // the windows once on the executors (disk-backed, driver-free): the
    // classic suffix-array-pipeline trade — O(corpus tokens) scratch
    // storage buys back a full tokenize+explode pass. Measured sf0.1:
    // 0.9 s of duplicate shingling removed. Eager, so lifecycle ends with
    // the session; never cached across invocations (a persist() would be
    // dedup-cached by canonical plan and make re-runs measure cache hits).
    val w = JobDescription.describe(docs.sparkSession, "Dedup.cutRepeatedSpans",
        "checkpoint of the n-gram windows") {
      ngramWindows(docs, idCol, textCol, n).localCheckpoint()
    }
    val stats = w.groupBy("win").agg(
      countDistinct(col("doc_id")).as("nd"),
      min(struct(col("doc_id"), col("pos"))).as("keep"))
    val cuts = w.join(stats.filter(col("nd") > 1), "win")
      .filter(!(col("doc_id") === col("keep.doc_id") &&
        col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: a window starts a new span iff it begins past the
    // running max end of all earlier windows in the doc
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + n)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = cuts
      .withColumn("new_span",
        when(prevEnd.isNull || col("pos") >= prevEnd, 1).otherwise(0))
      .withColumn("island", sum(col("new_span")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("cuts"))
    docs.select(col(idCol).as("doc_id"),
        TextFunctions.words(col(textCol)).as("a"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("a")).cast("long").as("n_tokens_before"),
        when(col("cuts").isNull, col("a")).otherwise(expr(
          "filter(a, (x, i) -> NOT exists(cuts, c -> i >= c.s AND i < c.e))"))
          .as("kept"))
      .select(col("doc_id"), concat_ws(" ", col("kept")).as("text"),
        col("n_tokens_before"),
        size(col("kept")).cast("long").as("n_tokens_after"))
  }

  /** Secondary length band for the Jaccard bucket key: floor(log2(#words)).
    * A hot (source, lang) bucket is re-split by document size, capping its
    * quadratic within-bucket work; near-duplicates have near-equal token
    * counts, so for any Jaccard threshold t ≥ 1/3 a qualifying pair cannot
    * straddle a power-of-two length band unless it sits exactly on the
    * boundary — i.e. recall loss is confined to boundary-adjacent pairs
    * (compare also against the ±1 band if exact-boundary recall matters). */
  def lengthBand(textCol: Column): Column =
    // floor(log2(n)) as exact integer math (binary digit count - 1): libm
    // log2 sits within 1 ulp of integers at powers of two, where floor()
    // would band-split identical lengths differently across engines.
    (length(bin(greatest(size(TextFunctions.words(textCol)), lit(1)))) - 1).cast("long")
}
