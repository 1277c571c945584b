package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Similarity}
import Q._

/** Training-data pipeline operators over `documents` and `embeddings`:
  * text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
  * vector math and similarity search. These extend the reference's surface
  * (its nearest analogue is functions-nested vector math) with the
  * operations a 100 TB corpus pipeline needs.
  *
  * Engine-specific sketches (SimHash via xxhash64, LSH hyperplanes) have no
  * SQL oracle → rows-only driver check; everything else is differentially
  * checked against DuckDB (MinHash is built on md5 + lexicographic min
  * specifically so the oracle can reproduce it bit-for-bit).
  */
object PipelineQueries extends QuerySet {

  private val EnList = "['the','and','of','is','a','to','in']"
  private val WordsCte =
    "SELECT doc_id, lang, source, text, list_filter(string_split(text, ' '), w -> w != '') AS ws FROM documents"

  val queries: Map[String, QueryFn] = Map(
    // Token counting + quality scoring.
    "text_stats" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          r6(TF.qualityScore(col("text"))).as("quality"))
    },

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    "text_langid" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
    },

    // Document fingerprinting: canonical-form hash groups per source.
    "text_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), TF.fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_fp"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_fp_dups"))
    },

    // Exact dedup stats per source (hash-groupBy — one aggregation).
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactStats(t(s, dir, "documents"), "text", "source")
    },

    // MinHash+LSH bucket statistics (k=8 signatures, 2 bands × 4 rows) via
    // the fused one-pass kernel: signatures AND band keys are pure
    // projections — the bucket aggregation below is the pipeline's only
    // shuffle.
    "dedup_minhash_stats" -> { (s, dir) =>
      val sigArr = Dedup.minhashSignatureArray(t(s, dir, "documents"), "doc_id", "text", 8)
      val bands = Dedup.lshBandsFromArray(sigArr, 4)
      bands.groupBy("band", "bkey").agg(count(lit(1)).as("c"))
        .groupBy("band")
        .agg(
          sum(col("c")).cast("long").as("n_docs"),
          count(lit(1)).as("n_buckets"),
          max(col("c")).cast("long").as("max_bucket"),
          sum(col("c") * (col("c") - 1) / 2).cast("long").as("n_cand_pairs"))
    },

    // MinHash candidate pairs with estimated jaccard (matching signatures / k).
    "dedup_minhash_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sigArr = Dedup.minhashSignatureArray(docs, "doc_id", "text", 8)
      val sigs = sigArr.select(col("doc_id"), posexplode(col("sig")).as(Seq("seed", "m")))
      val pairs = Dedup.lshCandidatePairs(Dedup.lshBandsFromArray(sigArr, 4))
      val sa = sigs.select(col("doc_id").as("ida"), col("seed"), col("m").as("ma"))
      val sb = sigs.select(col("doc_id").as("idb"), col("seed"), col("m").as("mb"))
      pairs.join(sa, "ida").join(sb, Seq("idb", "seed"))
        .groupBy("ida", "idb")
        .agg((sum(when(col("ma") === col("mb"), 1).otherwise(0)) / lit(8.0)).as("est_jaccard"))
    },

    // n-gram Jaccard near-dup ranking, banded by source (quadratic only
    // within a band bucket).
    "dedup_ngram_topk" -> { (s, dir) =>
      // Bucket = (source, lang, ⌊log2 #tokens⌋): the length band caps a hot
      // (source, lang) bucket's quadratic work; near-dups have near-equal
      // token counts, so only boundary-straddling pairs are sacrificed.
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        concat_ws("|", col("source"), col("lang"), Dedup.lengthBand(col("text"))))
      pairs
        .select(col("ida"), col("idb"), r4(col("jaccard")).as("jaccard"))
        .orderBy(r6(col("jaccard")).desc, col("ida"), col("idb"))
        .limit(20)
    },

    // Embedding-cosine near-dup: SRP sign-bucket LSH (signs of the first 4
    // components = 16 buckets), cosine ranked only within a bucket — never
    // all-pairs. Fixture embeddings have no true dups, so the operator
    // surfaces the top-ranked near-dup candidates instead of thresholding
    // (a fixed cutoff would be a vacuous empty oracle on this corpus).
    "dedup_embed_cosine" -> { (s, dir) =>
      // embedding stays float32 (the kernel accumulates in double; the
      // oracle casts to DOUBLE[] — same values under r6)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("emb"))
      def bit(i: Int) =
        when(element_at(col("emb"), i + 1) > 0, lit(1 << i)).otherwise(lit(0))
      val bucketed = e.withColumn("bucket", bit(0) + bit(1) + bit(2) + bit(3))
      val a = bucketed.select(col("bucket"), col("vec_id").as("ida"), col("emb").as("ea"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("idb"), col("emb").as("eb"))
      a.join(b, Seq("bucket")).where(col("ida") < col("idb"))
        .select(col("ida"), col("idb"),
          r6(lit(1.0) - cosine_distance(col("ea"), col("eb"))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("ida"), col("idb"))
        .limit(25)
    },

    // Duplicate-cluster resolution: LSH candidate pairs are edges, connected
    // components (iterative min-label propagation, one shuffle per round)
    // collapse them into clusters, min doc_id is the canonical document.
    // The oracle walks the same edges with a recursive CTE.
    "dedup_cluster" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sigArr = Dedup.minhashSignatureArray(docs, "doc_id", "text", 8)
      val pairs = Dedup.lshCandidatePairs(Dedup.lshBandsFromArray(sigArr, 4))
      val comp = Dedup.connectedComponents(pairs, "ida", "idb")
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("canonical"),
          col("cluster_size"))
        .orderBy("canonical", "doc_id")
    },

    // Deterministic stratified split: md5-range assignment (~80/10/10) is a
    // pure per-row map — no shuffle at any scale, reproducible across
    // engines and runs (the property a training pipeline actually needs;
    // rand()-based sampling is neither). Output is the per-(source, split)
    // manifest: doc/token counts and id bounds.
    "sample_split" -> { (s, dir) =>
      val h = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2)
      val split = when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), split.as("split"),
          TF.tokenCount(col("text")).as("toks"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("docs"), sum("toks").as("tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source", "split")
    },

    // Sequence packing for training: per-source running token count in
    // doc_id order, documents binned into contiguous 4096-token windows
    // (bin = starting offset / 4096). One window pass per source partition;
    // at 100 TB the partition key is (source, shard) so no partition is
    // unbounded. Output: per-bin manifest.
    "pipeline_pack" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), TF.tokenCount(col("text")).as("toks"))
        .withColumn("cum", sum("toks").over(w))
        .withColumn("bin", floor((col("cum") - col("toks")) / lit(4096.0)).cast("long"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("docs"), sum("toks").as("tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "bin")
    },

    // SimHash near-dups. The xxhash64-based signatures are engine-specific,
    // so the pair list itself can't be oracle-replayed — but the sketch's
    // CONTRACT can: (a) identical texts hash to identical signatures, so
    // every exact-dup pair MUST surface (recall on the deterministic subset);
    // (b) candidate pairs must be enriched in true near-dups vs random
    // pairs (precision vs exact token Jaccard, computed exactly in-query).
    // Emitting the contract as booleans makes the sketch hash-checkable
    // against an oracle that asserts them.
    "dedup_simhash" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sims = Dedup.simhash(docs, "doc_id", "text")
      val pairs = Dedup.simhashPairs(sims, 16)
      val toks = docs.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("ws"))
      val scored = pairs
        .join(toks.select(col("doc_id").as("ida"), col("ws").as("wa")), "ida")
        .join(toks.select(col("doc_id").as("idb"), col("ws").as("wb")), "idb")
        .withColumn("jacc",
          size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(array_union(col("wa"), col("wb"))))
      val exactPairs = docs.select(col("doc_id").as("ida"), col("text"))
        .join(docs.select(col("doc_id").as("idb"), col("text")), "text")
        .where(col("ida") < col("idb")).select("ida", "idb")
      val missed = exactPairs
        .join(pairs.select("ida", "idb"), Seq("ida", "idb"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      val quality = scored.agg(
        (count(lit(1)) > 0).as("found_pairs"),
        (min(when(col("hamming") <= 4, col("jacc"))) >= 0.3).as("close_pairs_are_near_dups"),
        (avg((col("jacc") >= 0.2).cast("double")) >= 0.5).as("precision_ok"))
      quality.crossJoin(missed)
        .select(col("found_pairs"), (col("n_missed") === 0).as("exact_recall_ok"),
          col("close_pairs_are_near_dups"), col("precision_ok"))
    },

    // Vector math kernels (custom codegen expressions) on adjacent pairs.
    "vector_math" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = e.select((col("vec_id") - 1).as("ida"), col("vec_id").as("idb"), col("embedding").as("eb"))
      a.join(b, "ida")
        .select(
          col("ida"), col("idb"),
          r6(inner_product(col("ea"), col("eb"))).as("dot"),
          r6(l2_distance(col("ea"), col("eb"))).as("l2"),
          r6(cosine_distance(col("ea"), col("eb"))).as("cosd"))
    },

    // Brute-force exact KNN (top-5 cosine for 10 query vectors).

    "embed_knn" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 10), 5)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
          r4(col("sim")).as("sim"))
    },

    // IVF-style ANN: deterministic coarse centroids, nearest-centroid
    // buckets, nProbe=2 — fully reproducible, so oracle-checked end-to-end.
    "embed_ann_ivf" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 10), 5, 16, 2)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
          r4(col("sim")).as("sim"))
    },

    // LSH-bucketed approximate KNN. The hyperplane signatures are seeded
    // JVM-side, so the neighbor list can't be oracle-replayed — but the
    // approximation CONTRACT can: recall@5 against the exact brute-force
    // companion (embed_knn) over the same 10 queries must clear the bound
    // that the OR-amplification parameters (4 planes × 6 tables) guarantee
    // on this corpus. Emitted as a boolean + the deterministic exact-pair
    // count, both hash-checkable.
    "embed_ann_lsh" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceKnn(e, q, 5).select(col("qid"), col("nid"))
      val approx = Similarity.lshKnn(e, q, 5, 4, 64, nTables = 6)
        .select(col("qid").as("aqid"), col("nid").as("anid"))
      val hits = exact.join(approx,
        col("qid") === col("aqid") && col("nid") === col("anid"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(hits)
        .select(col("n_exact"),
          (col("n_hit").cast("double") / col("n_exact") >= 0.4).as("recall_ok"))
    })

  val oracleSql: Map[String, String] = Map(
    // The sketch contract (see the query comment): the oracle asserts the
    // recall/precision booleans the implementation must satisfy.
    "dedup_simhash" ->
      """SELECT true AS found_pairs, true AS exact_recall_ok,
        | true AS close_pairs_are_near_dups, true AS precision_ok""".stripMargin,

    "embed_ann_lsh" ->
      """SELECT CAST(50 AS BIGINT) AS n_exact, true AS recall_ok""".stripMargin,

    "dedup_cluster" ->
      s"""WITH RECURSIVE words AS ($WordsCte),
         |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         |    ELSE list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shingles FROM words),
         |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
         |mh AS (SELECT doc_id, seed,
         |        min(substr(md5((seed // 4) || '|' || sh), 1 + 8 * (seed % 4), 8)) AS m
         |       FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) GROUP BY doc_id, seed),
         |bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(m, '' ORDER BY seed)) AS bkey
         |          FROM mh GROUP BY doc_id, seed // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |          WHERE a.doc_id < b.doc_id),
         |edges AS (SELECT ida AS src, idb AS dst FROM pairs
         |          UNION ALL SELECT idb, ida FROM pairs),
         |walk(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
         |lab AS (SELECT node AS doc_id, min(lbl) AS canonical FROM walk GROUP BY node),
         |sz AS (SELECT canonical, count(*) AS cluster_size FROM lab GROUP BY canonical)
         |SELECT l.doc_id, l.canonical, sz.cluster_size
         |FROM lab l JOIN sz USING (canonical)
         |ORDER BY canonical, doc_id""".stripMargin,

    "sample_split" ->
      s"""WITH w AS (SELECT doc_id, source,
         |  len(list_filter(string_split(text, ' '), x -> x != '')) AS toks,
         |  substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) AS h FROM documents),
         |s AS (SELECT doc_id, source, toks,
         |  CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split
         | FROM w)
         |SELECT source, split, CAST(count(*) AS BIGINT) AS docs,
         | CAST(sum(toks) AS BIGINT) AS tokens,
         | min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,

    "pipeline_pack" ->
      s"""WITH w AS (SELECT doc_id, source,
         |  len(list_filter(string_split(text, ' '), x -> x != '')) AS toks FROM documents),
         |c AS (SELECT doc_id, source, toks,
         |  sum(toks) OVER (PARTITION BY source ORDER BY doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum FROM w),
         |b AS (SELECT *, CAST(floor((cum - toks) / 4096.0) AS BIGINT) AS bin FROM c)
         |SELECT source, bin, CAST(count(*) AS BIGINT) AS docs,
         | CAST(sum(toks) AS BIGINT) AS tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "text_stats" ->
      s"""WITH base AS ($WordsCte),
         |calc AS (SELECT doc_id, text,
         |  CAST(len(ws) AS DOUBLE) AS n,
         |  CAST(len(list_filter(ws, w -> list_contains($EnList, w))) AS DOUBLE) AS stops,
         |  CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) AS alnum
         | FROM base)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | floor((least(n / 100.0, 1.0) * 0.3
         |   + least(stops / greatest(n, 1.0) * 3.0, 1.0) * 0.2
         |   + alnum / greatest(CAST(length(text) AS DOUBLE), 1.0) * 0.3
         |   + (CASE WHEN alnum / greatest(n, 1.0) >= 3 AND alnum / greatest(n, 1.0) <= 10
         |      THEN 1.0 ELSE 0.5 END) * 0.2 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS quality
         |FROM calc""".stripMargin,

    "text_langid" ->
      """WITH b AS (SELECT doc_id, lang,
        |   list_filter(string_split(lower(text), ' '), w -> w != '') AS ws FROM documents),
        |c AS (SELECT doc_id, lang,
        |  len(list_filter(ws, w -> list_contains(['the','and','of','is','a','to','in'], w))) AS en,
        |  len(list_filter(ws, w -> list_contains(['der','die','und','das','ist','ein'], w))) AS de,
        |  len(list_filter(ws, w -> list_contains(['le','la','et','les','des','un'], w))) AS fr,
        |  len(list_filter(ws, w -> list_contains(['el','los','y','una','que','en'], w))) AS es
        | FROM b),
        |p AS (SELECT lang, CASE
        |    WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |    WHEN en = greatest(en, de, fr, es) THEN 'en'
        |    WHEN de = greatest(en, de, fr, es) THEN 'de'
        |    WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |    ELSE 'es' END AS lang_pred
        |  FROM c)
        |SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred""".stripMargin,

    "text_fingerprint" ->
      """WITH fp AS (SELECT source,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      w -> w != ''))), ' ')) AS fp
        | FROM documents)
        |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_fp,
        | count(*) - count(DISTINCT fp) AS n_fp_dups
        |FROM fp GROUP BY source""".stripMargin,

    "dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_unique,
        | count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY source""".stripMargin,

    "dedup_minhash_stats" ->
      s"""WITH words AS ($WordsCte),
         |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         |    ELSE list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shingles FROM words),
         |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
         |mh AS (SELECT doc_id, seed,
         |        min(substr(md5((seed // 4) || '|' || sh), 1 + 8 * (seed % 4), 8)) AS m
         |       FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) GROUP BY doc_id, seed),
         |bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(m, '' ORDER BY seed)) AS bkey
         |          FROM mh GROUP BY doc_id, seed // 4),
         |buckets AS (SELECT band, bkey, count(*) AS c FROM bands GROUP BY band, bkey)
         |SELECT CAST(band AS BIGINT) AS band, CAST(sum(c) AS BIGINT) AS n_docs,
         | count(*) AS n_buckets, CAST(max(c) AS BIGINT) AS max_bucket,
         | CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM buckets GROUP BY band""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH words AS ($WordsCte),
         |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         |    ELSE list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shingles FROM words),
         |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
         |mh AS (SELECT doc_id, seed,
         |        min(substr(md5((seed // 4) || '|' || sh), 1 + 8 * (seed % 4), 8)) AS m
         |       FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) GROUP BY doc_id, seed),
         |bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(m, '' ORDER BY seed)) AS bkey
         |          FROM mh GROUP BY doc_id, seed // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |          WHERE a.doc_id < b.doc_id)
         |SELECT ida, idb,
         | sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 8.0 AS est_jaccard
         |FROM pairs JOIN mh sa ON sa.doc_id = ida JOIN mh sb
         |  ON sb.doc_id = idb AND sb.seed = sa.seed
         |GROUP BY ida, idb""".stripMargin,

    "dedup_ngram_topk" ->
      s"""WITH words AS ($WordsCte),
         |p AS (SELECT doc_id, source, lang,
         |    length(bin(CAST(greatest(len(ws), 1) AS BIGINT))) - 1 AS lb,
         |    list_distinct(
         |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         |    ELSE list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS sh FROM words),
         |jac AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS j
         |  FROM p a JOIN p b ON a.source = b.source AND a.lang = b.lang
         |    AND a.lb = b.lb AND a.doc_id < b.doc_id)
         |SELECT ida, idb, floor((j + 1.37e-6) * 10000 + 0.5) / 10000 AS jaccard
         |FROM jac
         |ORDER BY floor((j + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC, ida, idb
         |LIMIT 20""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |  (CASE WHEN emb[1] > 0 THEN 1 ELSE 0 END) + 2*(CASE WHEN emb[2] > 0 THEN 1 ELSE 0 END)
        |  + 4*(CASE WHEN emb[3] > 0 THEN 1 ELSE 0 END) + 8*(CASE WHEN emb[4] > 0 THEN 1 ELSE 0 END) AS bucket
        | FROM e)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  floor((list_cosine_similarity(a.emb, b.emb) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, ida, idb LIMIT 25""".stripMargin,

    "vector_math" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        | floor((list_inner_product(a.emb, b.emb) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS dot,
        | floor((list_distance(a.emb, b.emb) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS l2,
        | floor((1.0 - list_cosine_similarity(a.emb, b.emb) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS cosd
        |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1""".stripMargin,

    "embed_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |ca AS (SELECT nid, cid FROM (
        |   SELECT a.vec_id AS nid, c.cid,
        |     row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |       floor((list_cosine_similarity(a.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |       c.cid) AS rn
        |   FROM e a CROSS JOIN cents c) WHERE rn = 1),
        |qa AS (SELECT qid, cid FROM (
        |   SELECT q.vec_id AS qid, c.cid,
        |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |       floor((list_cosine_similarity(q.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |       c.cid) AS rn
        |   FROM e q CROSS JOIN cents c WHERE q.vec_id < 10) WHERE rn <= 2),
        |cand AS (SELECT DISTINCT qa.qid, ca.nid FROM qa JOIN ca USING (cid)
        |         WHERE qa.qid != ca.nid),
        |sims AS (SELECT cand.qid, cand.nid, list_cosine_similarity(eq.emb, en.emb) AS sim
        |         FROM cand JOIN e eq ON eq.vec_id = cand.qid
        |           JOIN e en ON en.vec_id = cand.nid),
        |ranked AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |    ORDER BY floor((sim + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC, nid) AS rank
        |  FROM sims)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, nid,
        | floor((sim + 1.37e-6) * 10000 + 0.5) / 10000 AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "embed_knn" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS ne FROM embeddings),
        |sims AS (SELECT qid, nid, list_cosine_similarity(qe, ne) AS sim
        |         FROM q CROSS JOIN c WHERE qid != nid),
        |ranked AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |    ORDER BY floor((sim + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC, nid) AS rank
        |  FROM sims)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, nid,
        | floor((sim + 1.37e-6) * 10000 + 0.5) / 10000 AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin)
}
