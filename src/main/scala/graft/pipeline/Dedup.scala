package graft.pipeline

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import graft.functions.MinHash

import scala.jdk.CollectionConverters._

/** Deduplication suite for large-scale corpus curation — exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Beyond the reference's operator surface (BASELINE.json north star):
  * designed for a 100 TB documents table.
  *  - exact dedup = one hash shuffle on the text digest;
  *  - pairwise Jaccard is bounded by a blocking key (here: source) —
  *    never an unblocked O(n²) crossJoin;
  *  - MinHash+LSH is the scale path: shingle → k minhashes → band →
  *    bucket-join → verify. Candidate generation is linear in corpus size
  *    (explode by band), the quadratic step only runs inside buckets;
  *  - all similarity arithmetic goes through DECIMAL sums so results are
  *    order-independent and reproducible under any partitioning.
  */
object Dedup {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.t(s, dir, n)

  import graft.Checkpoints.materialized

  val defs: Seq[QDef] = Seq(

    // ---- Exact dedup: hash-groupBy on content digest ----------------------
    QDef.sql("dedup_exact",
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""") { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // ---- n-gram Jaccard near-dup, blocked by source -----------------------
    QDef.sql("dedup_ngram_jaccard",
      """WITH grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(text)-1), i -> substr(text, i, 3))) AS gs
        |  FROM documents WHERE len(text) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jac
        |FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.6""") { (s, dir) =>
      ngramJaccardPairs(s, dir)
    },

    // ---- Duplicate clusters (connected components over near-dup pairs) ----
    // Oracle: recursive-CTE transitive closure + min reachable id — the
    // same component labeling the iterative propagation converges to.
    // (Oracle cost note: the closure CTE is fine at the gate's sf0.01
    // (~6s in DuckDB) but grows steeply with pair count — don't run the
    // oracle side at sf >= 0.1.)
    QDef.sql("dedup_clusters",
      """WITH RECURSIVE grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(text)-1), i -> substr(text, i, 3))) AS gs
        |  FROM documents WHERE len(text) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.6
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src AS id, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
        |)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""") { (s, dir) =>
      clusters(ngramJaccardPairs(s, dir).select("id_a", "id_b"))
    },

    // ---- MinHash + LSH near-dup (the scale path) --------------------------
    // shingle → 16 minhashes → 4 bands × 4 rows → bucket-join candidates →
    // exact-Jaccard verify. xxhash64 is Spark-specific → rows-only check;
    // the verified output equals dedup_ngram_jaccard restricted to LSH
    // recall, which the spec asserts.
    QDef.rowsOnly("dedup_minhash_lsh") { (s, dir) =>
      minhashPairs(t(s, dir, "documents"), threshold = 0.6)
    },

    // ---- MinHash+LSH, PORTABLE-HASH mode (r5 VERDICT #8) -------------------
    // The SAME Scala pipeline as dedup_minhash_lsh — OPH bins, rotation
    // densification, 96×8 banding, bucket cap, merge-scan exact verify —
    // with both hash functions swapped for mod-1000003 polynomials the
    // oracle replays step for step (trigram hash → bin-min → densify via
    // nearest-filled-clockwise + hop → band fold → bucket join under the
    // cap → exact Jaccard). This gives the banding machinery a true
    // hash-match oracle; the production entry keeps the fmix64 kernel
    // (wrap-around folds cannot port: DuckDB BIGINT errors on overflow).
    // The engine's in-place densification chains through already-densified
    // bins, which telescopes to nearest-originally-filled + total distance
    // — exactly the oracle's closed form.
    QDef.sql("dedup_minhash_portable",
      """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= 3),
        |g AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(1, len(text) - 1),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(string_split(substr(text, i, 3), ''),
        |                            c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 1000003)))) AS hs
        |  FROM d),
        |bins AS (
        |  SELECT doc_id, h % 768 AS b, min(h) AS mn
        |  FROM (SELECT doc_id, unnest(hs) AS h FROM g) GROUP BY doc_id, h % 768),
        |allb AS (
        |  SELECT g.doc_id, gs.b FROM g, (SELECT unnest(range(0, 768)) AS b) gs),
        |dens AS (
        |  SELECT ab.doc_id, ab.b,
        |    (SELECT f.mn + (f.b - ab.b + 768) % 768
        |     FROM bins f WHERE f.doc_id = ab.doc_id
        |     ORDER BY (f.b - ab.b + 768) % 768 LIMIT 1) AS v
        |  FROM allb ab),
        |bands AS (
        |  SELECT doc_id, b // 8 AS band,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(v ORDER BY b)),
        |      (h, x) -> (h * 31 + x) % 1000003) AS bh
        |  FROM dens GROUP BY doc_id, b // 8),
        |cnt AS (SELECT band, bh, count(*) AS c FROM bands GROUP BY band, bh),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l
        |  JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
        |  JOIN cnt ON cnt.band = l.band AND cnt.bh = l.bh AND cnt.c <= 100),
        |v AS (
        |  SELECT id_a, id_b,
        |    CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE)
        |      / (len(ga.hs) + len(gb.hs) - len(list_intersect(ga.hs, gb.hs))) AS jac
        |  FROM cand
        |  JOIN g ga ON ga.doc_id = cand.id_a
        |  JOIN g gb ON gb.doc_id = cand.id_b)
        |SELECT id_a, id_b, jac FROM v WHERE jac >= 0.6""") { (s, dir) =>
      minhashPairs(t(s, dir, "documents"), threshold = 0.6, portable = true)
    },

    // ---- SimHash signatures ------------------------------------------------
    // 16-bit simhash over token hashes: bit b = sign of Σ_tokens (±1).
    // The token hash is a polynomial fold mod 1000003 — engine-independent
    // (DuckDB recomputes it exactly), which is what makes the signature
    // oracle-verifiable. A production corpus swaps in xxhash64 (codegen'd,
    // 64-bit) — only this one projection changes, the signature/banding
    // plumbing is hash-agnostic (cf. minhashPairs, which uses xxhash64).
    QDef.sql("dedup_simhash",
      """WITH toks AS (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000003) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |), bits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) >= 0
        |         THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitv
        |  FROM toks, LATERAL (SELECT unnest(generate_series(0, 15)) AS b) g
        |  GROUP BY doc_id, b
        |)
        |SELECT doc_id, CAST(SUM(bitv) AS BIGINT) AS simhash16
        |FROM bits GROUP BY doc_id""") { (s, dir) =>
      // one-pass native kernel — same polynomial the oracle recomputes;
      // replaces the per-character interpreted aggregate(split(w, ""), ...)
      val polyHash = graft.functions.TokenPolyHash.token_poly_hash(col("w"))
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .select(col("doc_id"), polyHash.as("h"))
      val bitCols = (0 until 16).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
      }
      val packed = (0 until 16).map(b =>
        when(col(s"s$b") >= 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
      words.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
        .select(col("doc_id"), packed.as("simhash16"))
    },

    // ---- Embedding-cosine near-dup ----------------------------------------
    // Sequential-fold double dot products (bit-identical across engines).
    // Scale posture: pairs are BLOCKED by label (the standard coarse
    // partitioner before pairwise work — unblocked n² does not survive any
    // scale-up), norms are computed once per vector, and the pair join key
    // (label) is a real equi-key so the join shuffles instead of
    // broadcast-nested-looping one partition.
    QDef.sql("dedup_embedding_cosine",
      """WITH v AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)) AS nrm
        |  FROM embeddings
        |)
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]), (x, y) -> x + y)
        |      / (a.nrm * b.nrm) AS cosim
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |) WHERE cosim >= 0.3""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))
        .repartition(col("label"))
      val a = e.select(col("vec_id").as("id_a"), col("label").as("la"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("label").as("lb"),
        col("v").as("vb"), col("nrm").as("nb"))
      val dot = graft.functions.DotProduct.dot_product(col("va"), col("vb"))
      a.join(b, col("la") === col("lb") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), (dot / (col("na") * col("nb"))).as("cosim"))
        .where(col("cosim") >= 0.3)
    },

    // ---- Semantic dedup via geometric clustering (SemDeDup) ---------------
    // Abbas et al. 2023 ("SemDeDup"): embed, k-means-cluster, and prune
    // near-duplicate PAIRS ONLY WITHIN EACH CLUSTER — the pairwise work
    // collapses from O(N²) to Σ|cluster|², and no label column is needed
    // (unlike dedup_embedding_cosine's given blocking key, this is the
    // realistic shape: the geometry itself provides the blocking). Fixed
    // seed centroids (vec_id < 16, the sim_ann_ivf_topk quantizer — the
    // deterministic stand-in for trained centroids; Similarity.ivfTrain
    // supplies Lloyd-trained ones in production) assign each vector by one
    // broadcast join; the within-cluster self-join shuffles on cid; each
    // dropped vector reports its best keeper (highest cosine, smaller id
    // keeps). Output: one row per drop decision.
    QDef.sql("dedup_semantic",
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)) AS nrm
        |  FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM v WHERE vec_id < 16
        |), assigned AS (
        |  SELECT vid, cid, v, nrm FROM (
        |    SELECT c.vec_id AS vid, ce.cid, c.v, c.nrm,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        list_reduce(list_transform(list_zip(c.v, ce.cv), p -> p[1]*p[2]), (x, y) -> x + y)
        |          / (c.nrm * ce.cnrm) DESC, ce.cid) AS rk
        |    FROM v c, cents ce
        |  ) WHERE rk = 1
        |), pairs AS (
        |  SELECT a.cid, a.vid AS keep_id, b.vid AS drop_id,
        |    list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]), (x, y) -> x + y)
        |      / (a.nrm * b.nrm) AS cosim
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vid < b.vid
        |)
        |SELECT cid, drop_id, keep_id, cosim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY drop_id
        |    ORDER BY cosim DESC, keep_id) AS rk
        |  FROM pairs WHERE cosim >= 0.35
        |) WHERE rk = 1""") { (s, dir) =>
      import graft.functions.DotProduct.dot_product
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy((dot_product(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).desc,
          col("cid"))
      val assigned = e.repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(cents))
        .withColumn("rk", row_number().over(wAssign))
        .where(col("rk") === 1)
        .select(col("vec_id").as("vid"), col("cid"), col("v"), col("nrm"))
      val a = assigned.select(col("cid"), col("vid").as("keep_id"),
        col("v").as("va"), col("nrm").as("na"))
      val b = assigned.select(col("cid"), col("vid").as("drop_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      val pairs = a.join(b, Seq("cid"))
        .where(col("keep_id") < col("drop_id"))
        .select(col("cid"), col("keep_id"), col("drop_id"),
          (dot_product(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosim"))
        .where(col("cosim") >= 0.35)
      val wBest = Window.partitionBy(col("drop_id"))
        .orderBy(col("cosim").desc, col("keep_id"))
      pairs.withColumn("rk", row_number().over(wBest)).where(col("rk") === 1)
        .select(col("cid"), col("drop_id"), col("keep_id"), col("cosim"))
    },

    // ---- Exact duplicated-span detection (substring dedup) ----------------
    // The span-level counterpart of document dedup (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better": repeated
    // ≥k-token substrings ACROSS documents are memorization fuel even when
    // no two documents are near-dups). Exact suffix arrays don't
    // distribute; the standard cluster-scale approximation is the one
    // here: every overlapping word-8-gram occurrence, keyed by gram, a
    // gram is "duplicated" if it appears in ≥2 distinct documents, and a
    // token is duplicated if any duplicated gram covers it — per-doc
    // coverage is the union of [i, i+7] intervals, reported as a fraction
    // so downstream filters can drop or trim spans.
    // Scale shape: ONE shuffle keyed on the 64-bit gram hash computes
    // cross-doc multiplicity (partial counts map-side); the occurrence
    // relation re-derives from the same scan (no materialized gram
    // strings — WordGramHashes longs only), the covering explode runs
    // ONLY on duplicated occurrences (~2% of grams here), and the final
    // per-doc rollup shuffles on doc_id. Nothing is quadratic in corpus
    // size; memory per task is bounded by gram-partition width.
    // The oracle replays the identical algebra on gram STRINGS —
    // hash-vs-string equality diverges only on 2^-64 collisions, and only
    // counts reach the output (text_repetition's documented contract).
    QDef.sql("dedup_span_exact",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |occ AS (
        |  SELECT doc_id, i, list_aggregate(ws[i:i+7], 'string_agg', ' ') AS g
        |  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) r),
        |dup AS (SELECT g FROM occ GROUP BY g HAVING count(DISTINCT doc_id) > 1),
        |cover AS (
        |  SELECT doc_id, count(DISTINCT i) AS n_dup_grams, count(DISTINCT p) AS dup_tokens
        |  FROM (SELECT o.doc_id, o.i, unnest(range(o.i, o.i + 8)) AS p
        |        FROM occ o JOIN dup USING (g))
        |  GROUP BY doc_id)
        |SELECT w.doc_id, len(ws) AS n_tokens,
        |  coalesce(n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(dup_tokens, 0) AS dup_tokens,
        |  CAST(coalesce(dup_tokens, 0) AS DOUBLE) / len(ws) AS dup_token_frac
        |FROM w LEFT JOIN cover USING (doc_id)""") { (s, dir) =>
      val docs = t(s, dir, "documents")
      val occ = docs.select(col("doc_id"),
          posexplode(graft.functions.WordGramHashes.word_gram_hashes_all(col("text"), 8)))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
      // "≥2 distinct docs" as min≠max — a plain partial+final aggregate,
      // no distinct-rewrite Expand doubling the shuffled gram rows
      val dup = occ.groupBy(col("g"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .where(col("lo") =!= col("hi")).select(col("g"))
      // (doc_id, i) is unique in occ (one gram per start), and the join
      // key is unique in dup, so coverage needs no distinct aggregates:
      // level 1 dedups covered positions, counting the p=i row that each
      // occurrence contributes exactly once; level 2 rolls up per doc.
      // Two tight codegen'd hash aggregations, zero Expand.
      val cover = occ.join(dup, "g")
        .select(col("doc_id"), col("i"),
          explode(sequence(col("i"), col("i") + 7)).as("p"))
        .groupBy(col("doc_id"), col("p"))
        .agg(sum(when(col("p") === col("i"), 1L).otherwise(0L)).as("starts"))
        .groupBy(col("doc_id"))
        .agg(sum(col("starts")).as("n_dup_grams"),
          count(lit(1)).as("dup_tokens"))
      docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .join(cover, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_grams"), lit(0)).cast("long").as("n_dup_grams"),
          coalesce(col("dup_tokens"), lit(0)).as("dup_tokens"),
          (coalesce(col("dup_tokens"), lit(0)).cast("double") / col("n_tokens"))
            .as("dup_token_frac"))
    }
  )

  /** The final pipeline step: drop every clustered document except its
    * cluster representative (the smallest doc_id — i.e. `cluster_id`
    * itself). Non-clustered documents pass through untouched. One
    * broadcast-or-shuffle anti-join; at corpus scale this is the pass that
    * actually shrinks the training set. */
  def dropDuplicatesByCluster(docs: DataFrame, clusterLabels: DataFrame): DataFrame = {
    val losers = clusterLabels.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Source-blocked n-gram-Jaccard near-dup pairs (id_a, id_b, jac):
    * every pair of documents with one `source`, `id_a < id_b` and
    * `jac >= 0.6`, where `jac = |A∩B| / (|A| + |B| − |A∩B|)` over the two
    * documents' trigram sets.
    *
    * Grams are SORTED 64-bit hashes (ShingleHashes: a bijection on
    * trigrams, so cardinalities and intersections equal the string-set
    * values exactly), so the pairwise kernel is the merge scan
    * IntersectSizeSorted — no per-pair hash set or materialized
    * intersection. A length-ratio prefilter (jac >= t forces min/max gram
    * counts >= t; here 3/5) skips the merge scan for most pairs.
    *
    * Two plans, one pair set; the corpus's ids and gram arrays (8 bytes
    * each) against Spark's `autoBroadcastJoinThreshold` pick one:
    *  - '''broadcast''' (they fit): collected once, broadcast, and paired by
    *    one job of `defaultParallelism` tasks, each taking every n-th left
    *    row of each source block (see [[BroadcastGrams]]). The result is
    *    checkpointed, released by the next invocation, and read by
    *    dedup_clusters and dedup_ngram_jaccard alike;
    *  - '''shuffled''' (they do not, or the threshold is -1): a SALTED
    *    self-join. The blocking key (source) has far fewer distinct values
    *    than the cluster has cores, so the left side is salted and the
    *    right replicated S×, splitting every block into S independent work
    *    units with each pair appearing exactly once; the ratio prefilter
    *    sits IN the join condition. */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // codegen'd one-pass shingling
    val grams = graft.functions.ShingleHashes.shingle_hashes(col("text"))
    BroadcastGrams.gather(docs, grams, bySource = true) match {
      case Some(corpus) =>
        val schema = BroadcastGrams.pairSchema(docs.schema("doc_id").nullable)
        BroadcastGrams.run(s, "ngram-pairs", corpus, schema)(
          (c, task, tasks) => BroadcastGrams.ngramTask(c, task, tasks, 0.6))
      case None => shuffledNgramPairs(s, docs, grams)
    }
  }

  private def shuffledNgramPairs(s: SparkSession, docs: DataFrame, grams: Column): DataFrame = {
    val S = 8 // salt fan-out
    // per-invocation evictable persist, NOT localCheckpoint: a pinned
    // checkpoint accumulates across bench reps (the r7 clusters growth);
    // the superseding persist gives this invocation's two join sides one
    // shared materialization and releases the previous invocation's
    val g = materialized(docs, "ngram-tri")(
      docs.where(length(col("text")) >= 3)
        .select(col("doc_id"), col("source"), grams.as("gs"))
        .withColumn("n", size(col("gs")))
        .repartition(s.sparkContext.defaultParallelism))
    val a = g.select(col("doc_id").as("id_a"), col("source").as("src_a"),
      col("gs").as("gs_a"), col("n").as("na"),
      pmod(col("doc_id"), lit(S)).cast("int").as("salt_a"))
    val b = g.select(col("doc_id").as("id_b"), col("source").as("src_b"),
      col("gs").as("gs_b"), col("n").as("nb"))
      .withColumn("salt_b", explode(sequence(lit(0), lit(S - 1))))
    val pairs = a.join(b,
      col("src_a") === col("src_b") && col("salt_a") === col("salt_b") &&
        col("id_a") < col("id_b") &&
        least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 3)
    val ni = graft.functions.IntersectSizeSorted
      .intersect_size_sorted(col("gs_a"), col("gs_b"))
    pairs
      .select(col("id_a"), col("id_b"), ni.as("ni"), col("na"), col("nb"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni"))).as("jac"))
      .where(col("jac") >= 0.6)
  }

  /** Consolidate verified near-dup pairs into duplicate CLUSTERS —
    * connected components, each doc_id labelled with the smallest doc_id
    * of its component. This is the step after pair generation in a real
    * corpus-dedup pipeline: clusters, not pairs, decide which single
    * representative survives.
    *
    * `pairs` holds two ids of one type, `id_a` and `id_b`. It is
    * materialized once ([[graft.Fixpoint.materialize]]), and where it is
    * held picks one of two paths to the same labels:
    *  - at most [[graft.Fixpoint.localRowCap]] pairs (every registry
    *    fixture) are collected to the driver, and one union-find pass
    *    labels them ([[components]]) with no job;
    *  - more pairs (or a broadcast threshold of -1) are checkpointed, and
    *    min-label propagation rounds run over them through
    *    [[graft.Fixpoint.iterate]] ([[propagate]]).
    * No session conf is changed. */
  def clusters(pairs: DataFrame): DataFrame = {
    val held = graft.Fixpoint.materialize(pairs.select(col("id_a"), col("id_b")))
    // only the label frame backs the returned plan; the NEXT invocation
    // releases it
    try graft.Checkpoints.superseding("dedup_clusters", held.rows match {
      case Some(rows) => components(held.df, rows)
      case None => propagate(held.df)
    }) finally graft.Fixpoint.release(held)
  }

  /** The components of `pairs`, whose rows the driver holds, by one
    * union-find pass: each id with the smallest id of its component, the
    * labels min-label propagation converges to. Ids compare as Spark's
    * `min` and join equality compare them, on their Catalyst values. A
    * NULL id, which no join matches, links nothing: it takes the smallest
    * label among its neighbours, or NULL if it has none. */
  private def components(pairs: DataFrame, rows: IndexedSeq[Row]): DataFrame = {
    val idType = pairs.schema.head.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    // the distinct ids, smallest first: every union keeps the smaller
    // root, so a component's root is its smallest id
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).filter(_ != null)
      .map(v => (toCatalyst(v), v)).toArray.distinctBy(_._1)
      .sortBy(_._1)(TypeUtils.getInterpretedOrdering(idType))
    val index = ids.iterator.map(_._1).zipWithIndex.toMap
    val parent = Array.range(0, ids.length)
    def find(v: Any): Int = {
      var x = index(toCatalyst(v))
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (r <- rows if !r.isNullAt(0) && !r.isNullAt(1)) {
      val (a, b) = (find(r.get(0)), find(r.get(1)))
      parent(a.max(b)) = a.min(b)
    }
    val labels = ids.iterator.map { case (_, v) => Row(v, ids(find(v))._2) }.toIndexedSeq
    val withNull = rows.filter(r => r.isNullAt(0) || r.isNullAt(1))
    val nullLabel = if (withNull.isEmpty) None else Some(Row(null,
      withNull.flatMap(r => Seq(r.get(0), r.get(1))).filter(_ != null).map(find)
        .minOption.map(ids(_)._2).orNull))
    val schema = StructType(Seq(
      StructField("doc_id", idType, pairs.schema.exists(_.nullable)),
      StructField("cluster_id", idType)))
    pairs.sparkSession.createDataFrame((labels ++ nullLabel).asJava, schema)
  }

  /** Min-label propagation over checkpointed rounds
    * ([[graft.Fixpoint.iterate]]): each round, every node takes the
    * smallest label among its own, its neighbours' and its label's label.
    * One labels⋈edges join, one pointer-jump self-join and one
    * min-aggregate a round, O(log diameter) rounds; the state shuffles on
    * node id at the session's own parallelism. */
  private def propagate(pairs: DataFrame): DataFrame = {
    // both directions from ONE pass over the pairs (a union would
    // read them twice)
    val edges = pairs.select(explode(array(
      struct(col("id_a").as("src"), col("id_b").as("dst")),
      struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e")).select("e.*")
    val noLabel = lit(null).cast(edges.schema("src").dataType)
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"), lit(true).as("changed"))
    val labels = graft.Fixpoint.iterate(init) { state =>
      val l = state.select(col("id"), col("lbl"))
      // Candidate labels per node, min-folded in ONE aggregation:
      //  - its own label (also kept as `own`, to tell whether it changed),
      //  - its neighbors' labels (edge propagation),
      //  - its label's label (pointer jump / path halving — labels are
      //    node ids, so following lbl one more hop is a join back onto
      //    the label table).
      // The jump turns convergence from O(diameter) into O(log diameter)
      // rounds on chain-shaped duplicate clusters.
      val jump = l
        .join(l.select(col("id").as("jid"), col("lbl").as("jlbl")), col("lbl") === col("jid"))
        .select(col("id"), col("jlbl").as("lbl"), noLabel.as("own"))
      l.alias("l")
        .join(edges.alias("e"), col("l.id") === col("e.src"))
        .select(col("e.dst").as("id"), col("l.lbl").as("lbl"), noLabel.as("own"))
        .unionByName(l.select(col("id"), col("lbl"), col("lbl").as("own")))
        .unionByName(jump)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"), max(col("own")).as("own"))
        .select(col("id"), col("lbl"), not(col("lbl") <=> col("own")).as("changed"))
    }(_.where(col("changed")).isEmpty)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Calibrated peak-scratch cost per raw in-bucket candidate pair across
    * the verify phase's coexisting shuffle stages (pair explode →
    * distinct → signature-prefilter joins → gram-array verify). Anchor:
    * the r12 sf1-eq ×100 run — 1.65×10⁸ pairs peaked at ~63 GB observed
    * under zstd (SCALING.md r12-close), zstd ≈ half of lz4's volume ⇒
    * ~760 B/pair on the default lz4 codec; rounded up. */
  val MinhashBytesPerPair = 800L

  /** Fraction of the scratch volume the planner is allowed to commit —
    * shingle materializations, cached buckets, and the final verify join
    * share the same disks. */
  val MinhashScratchSafety = 0.7

  /** Broadcast budget for the 64-byte signature relation (guide §3.1): at
    * ~90 B/doc the prefilter's sig side is broadcast only when the
    * planner-measured doc count keeps it under this cap — well inside
    * executor memory and far from the 8 GB broadcast hard limit. Beyond
    * it the prefilter joins run shuffle_hash with the sig side as build. */
  val MinhashSigBroadcastBytes: Long = 8L << 20

  /** Usable bytes on the shuffle scratch volume (first spark.local.dir,
    * else java.io.tmpdir — Spark's own resolution order). */
  def usableScratchBytes(spark: org.apache.spark.sql.SparkSession): Long = {
    val dir = spark.sparkContext.getConf
      .getOption("spark.local.dir").map(_.split(',').head)
      .getOrElse(System.getProperty("java.io.tmpdir"))
    new java.io.File(dir).getUsableSpace
  }

  /** The scratch decision, pure and spec-pinned: number of sequential
    * band-partitioned verify passes so each pass's estimated shuffle
    * footprint (pairMass × [[MinhashBytesPerPair]] ÷ K) fits inside
    * budget × [[MinhashScratchSafety]]. 1 = the single-pass plan;
    * capped at the band count (can't slice finer than one band/pass). */
  def verifyPasses(pairMass: Double, budgetBytes: Long, bands: Int): Int =
    if (pairMass <= 0 || budgetBytes <= 0) 1
    else {
      val usable = budgetBytes * MinhashScratchSafety
      val need = pairMass * MinhashBytesPerPair
      math.min(bands, math.max(1, math.ceil(need / usable).toInt))
    }

  /** MinHash+LSH candidate generation + exact verification. Returns verified
    * near-dup pairs (id_a < id_b, jac >= threshold): the pairs that share
    * at least one band bucket of 2..100 documents, pass the size-ratio
    * bound and the signature prefilter, and verify exactly.
    *
    * Two plans, one pair set; the corpus's ids and gram arrays (8 bytes
    * each) against Spark's `autoBroadcastJoinThreshold` pick one:
    *  - '''broadcast''' (they fit): the ids and grams are collected once
    *    and broadcast, and ONE job of `defaultParallelism` tasks computes
    *    the bands, enumerates the buckets each task owns, and keeps a pair
    *    only at the first band where its documents share a capped bucket —
    *    so no distinct, no shuffle and no verify join (see
    *    [[BroadcastGrams.minhashTask]]). No session conf changes;
    *  - '''shuffled''' (they do not, or the threshold is -1): the plan
    *    below, with its scratch planner and multi-pass verify, run with
    *    AQE off for the operator and the setting restored after.
    * Either way the result is checkpointed eagerly and released by the
    * next invocation.
    *
    * Shuffle discipline of the shuffled plan (what survives 100 TB):
    *  - the bucket self-join carries ONLY (doc_id, signature) — never the
    *    shingle arrays; candidate rows are ~100 bytes, not ~10 KB;
    *  - candidates are pre-filtered by a 64-byte signature ESTIMATE of
    *    their Jaccard before any gram array moves: the r11 derived-scale
    *    run (docs ×100) produced 1.65×10⁸ raw candidates at ~10⁻⁴
    *    precision, and the verify join's second hop — which drags one
    *    ~2.4 KB gram array per candidate through a shuffle — wrote >150 GB
    *    and died on disk; the estimate join carries 64 B per side instead
    *    (~37× less), and its survivors are the only pairs whose gram
    *    arrays ever shuffle (see `sigPrefilter` below for the recall
    *    accounting);
    *  - shingles are 64-bit hashes, not strings — the exact intersect is
    *    long-array work, and gram sets are checkpointed once, not
    *    recomputed per join side.
    *
    * `sigPrefilter` (production default ON; forced OFF on the portable
    * twin so its DuckDB oracle replays the pipeline exactly): each doc
    * gets an INDEPENDENT 64-bin OPH signature truncated to 1 byte/bin;
    * equal-byte fraction estimates J with σ = √(J(1−J)/64) ≈ 0.061 at
    * J = 0.6, plus a +(1−J)/256 false-equality bias from the truncation
    * (recall-helping). The cut keeps pairs with estimate ≥ threshold −
    * 0.25 — a 4.1σ margin, so a true threshold pair is lost with
    * p ≈ 2×10⁻⁵, far below the banding scheme's own ~20% miss at
    * J = 0.6 (1 − (1−0.6⁸)⁹⁶); junk candidates (J ≲ 0.2) sit ≥ 2σ below
    * the cut and are dropped before the heavy join.
    * MinhashSigPrefilterSpec pins filtered == unfiltered on fixture data.
    *
    * `scratchBudgetBytes` (shuffled plan only) overrides the scratch
    * planner's auto-detected disk budget (None = usable space of the
    * shuffle scratch volume);
    * the planner decides the number of band-partitioned verify passes —
    * see [[verifyPasses]]. MinhashScratchPlanSpec pins the decision
    * boundary and the multi-pass == single-pass result identity.
    */
  def minhashPairs(docs: DataFrame, threshold: Double,
      numHashes: Int = 768, bands: Int = 96, portable: Boolean = false,
      sigPrefilter: Boolean = true,
      scratchBudgetBytes: Option[Long] = None): DataFrame = {
    // The sorted gram hashes: the codegen'd one-pass shingling kernel
    // replaces the interpreted substr-per-window projection (the former
    // pipeline bottleneck).
    //
    // `portable` swaps BOTH hash functions for DuckDB-recomputable
    // mod-1000003 polynomials (gram hash = the simhash token polynomial
    // over each trigram; band fold = the same recurrence over bin-mins,
    // seed 0) so the ENTIRE pipeline — OPH bins, rotation densification,
    // banding, bucket cap, exact verify — can be replayed by the oracle
    // (`dedup_minhash_portable`). Production keeps the fmix64 kernel:
    // DuckDB's BIGINT errors on overflow, so the wrap-around fold cannot
    // port, and the portable trigram hashing is an interpreted transform.
    val gramHashes =
      if (!portable) graft.functions.ShingleHashes.shingle_hashes(col("text"))
      else array_sort(array_distinct(transform(
        sequence(lit(1), length(col("text")) - 2),
        i => graft.functions.TokenPolyHash.token_poly_hash(
          col("text").substr(i, lit(3))))))
    // the prefilter's cut: signatures with fewer equal bytes are dropped
    val minEq =
      if (!sigPrefilter || portable) -1
      else math.ceil(MinHash.SignatureBins * math.max(0.0, threshold - 0.25)).toInt
    BroadcastGrams.gather(docs, gramHashes, bySource = false) match {
      case Some(corpus) =>
        // the shuffled plan's ids come from a primitive-typed encoder
        val schema = BroadcastGrams.pairSchema(idNullable = false)
        BroadcastGrams.run(docs.sparkSession, s"minhash-result-$portable", corpus, schema)(
          (c, task, tasks) => BroadcastGrams.minhashTask(c, task, tasks,
            numHashes, bands, portable, threshold, minEq))
      case None => shuffledMinhashPairs(docs, gramHashes, threshold, numHashes, bands,
        portable, minEq, scratchBudgetBytes)
    }
  }

  private def shuffledMinhashPairs(docs: DataFrame, gramHashes: Column, threshold: Double,
      numHashes: Int, bands: Int, portable: Boolean, minEq: Int,
      scratchBudgetBytes: Option[Long]): DataFrame = {
    val rowsPerBand = numHashes / bands // r=8: a 0.45 noise floor collides at 0.45^8 ~ 0.002
    // AQE off for the whole operator: the topology is hand-planned — the
    // one exchange per relation is placed explicitly, the partitioning is
    // reused by construction, and every join strategy is pinned (hints /
    // measured broadcast decision). AQE's per-stage re-optimization adds
    // a planning barrier to each of the ~15 stages per invocation and can
    // contribute nothing (no skew to split: bucket cap bounds groups, and
    // coalescing would only erase the partitioning the plan reuses).
    val prevAqe = docs.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
    docs.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    // persist, not localCheckpoint: checkpoint blocks are pinned (lineage
    // is truncated, so they can never be evicted) and a re-invoked query
    // accumulates them until GC notices — the r6 rep-to-rep variance.
    // Persisted blocks are evictable and recompute from the parquet scan.
    // Persisted per invocation (superseding the previous invocation's
    // blocks — every bench rep recomputes from parquet): ONE invocation
    // references the gram arrays four times (banding, signatures, both
    // verify join sides), so the persist collapses four computations into
    // one without carrying anything across invocations.
    // hash-partitioned on doc_id (not round-robin): the verify joins key
    // on doc_id, so the persisted partitioning is REUSED by both join
    // sides — the heavy gram arrays never re-shuffle, only the pair list
    // moves (the r11 scale run's plan audit)
    val mat = materialized(docs, s"minhash-$numHashes-$portable")(
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
        .where(length(col("text")) >= 3)
        .select(col("doc_id"), gramHashes.as("gs")))
    val g = mat.select(col("doc_id"), col("gs"))
    // One-Permutation Hashing with rotation densification
    // (graft.functions.MinHash): O(|shingles| + k) per document instead of
    // the classic k-function family's O(|shingles| × k), ~500× less kernel
    // work at k=768. Bin-min agreement still estimates Jaccard, so the
    // banding math (r=8: noise floor 0.45^8 ≈ 0.002) holds, and the
    // exact-Jaccard verify keeps precision at 1 regardless.
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val nh = numHashes
    val nb = bands
    val rpb = rowsPerBand
    val port = portable
    val banded0 = g
      .as[(Long, Array[Long])]   // primitive-array encoder: no per-element boxing
      .mapPartitions { it =>
        it.flatMap { case (id, a) =>
          val mins = MinHash.binMins(UnsafeArrayData.fromPrimitiveArray(a), nh)
          (0 until nb).iterator.map { bi =>
            val h = MinHash.bandHash(mins, bi, rpb, port)
            (id, a.length, bi, h) // carry |grams|: the verify prefilter key
          }
        }
      }.toDF("doc_id", "n", "b", "h")
    // Candidate topology (r17 rework; r6 was a count-join + bucket
    // SELF-join — three hash exchanges; r11-r16 aggregated buckets as
    // collect_list arrays — but collect_list plans as ObjectHashAggregate,
    // whose tiny fallback threshold degrades to a SORT-based aggregation
    // building per-bucket array objects, measured 4.0 s of the 5.8 s
    // invocation at sf0.1): ONE exchange on the band key, persisted, and
    // BOTH consumers reuse its partitioning with no further shuffle —
    //   1. the scratch planner's bucket-size aggregate (codegen
    //      HashAggregate: count per (b,h), partial-agg-friendly);
    //   2. the pair generator: a cap semi-join + self-join on the band
    //      key (see candsFor) — no per-bucket array objects,
    //      no ObjectHashAggregate, every operator codegen.
    // Bucket-size cap: a bucket holding hundreds of docs is
    // non-discriminative (quadratic pair count, ~zero precision) — drop
    // it and rely on the doc's other bands. With r=8 the true near-dup
    // buckets sit far below the cap, so the guard costs no recall while
    // bounding worst-case skew; the cap also bounds the self-join's
    // matched-group buffer.
    val banded = materialized(docs, s"minhash-banded-$numHashes-$bands-$portable")(
      banded0.repartition(spark2.sparkContext.defaultParallelism, col("b"), col("h")))
    // bucket sizes: pure codegen count aggregate, reusing the persisted
    // partitioning (no exchange). Feeds the scratch planner AND the
    // adaptive sig-join sizing below in ONE action.
    val sizes = banded.groupBy(col("b"), col("h")).agg(count(lit(1)).as("c"))
    // ---- scratch planning (r13, VERDICT #2): the in-bucket pair mass --
    // the debug-only estimate promoted to a PRE-VERIFY PLANNING STEP —
    // now drives the verify topology automatically. Estimated peak
    // shuffle scratch = pairs × [[MinhashBytesPerPair]] (single
    // authoritative derivation at that constant's scaladoc — the r12
    // ×100 zstd measurement doubled for lz4). When the estimate exceeds
    // the budget
    // (spark.local.dir usable space × 0.7 safety, or the caller's
    // override), the verify is split into K band-partitioned passes:
    // each pass generates + prefilters candidates for bands b ≡ i (mod
    // K) and eagerly materializes its (tiny) survivor list, so only
    // 1/K of the raw pair mass is ever on disk at once, at the cost of
    // K-1 extra scans of the persisted banded relation. K = 1 — the
    // single-pass plan, unchanged — whenever the estimate fits.
    val planStats = sizes.agg(
      coalesce(sum(when(col("c").between(2, 100),
        col("c") * (col("c") - 1) / 2)), lit(0.0)).as("pm"),
      coalesce(sum(col("c")), lit(0L)).as("rows")).first()
    val pairMass = planStats.getDouble(0)
    val nDocs = planStats.getLong(1) / bands
    val budget = scratchBudgetBytes.getOrElse(usableScratchBytes(docs.sparkSession))
    val numPasses = verifyPasses(pairMass, budget, bands)
    // the decision line is the scale-calibration instrument (SCALING.md
    // records (pairMass, peak scratch) points against MinhashBytesPerPair)
    // — print it whenever the pair mass is big enough to matter, not only
    // when the planner slices
    if (numPasses > 1 || pairMass > 1e6)
      System.err.println(
        f"[minhash-lsh] pair mass $pairMass%.3g -> $numPasses verify passes " +
          f"(budget ${budget / 1e9}%.1f GB)")
    // Pair generation: the id_a < id_b join predicate emits each unordered
    // pair exactly once. LOSSLESS size-ratio prefilter (r11 scale run):
    // |A∩B| ≤ min(|A|,|B|) gives jac = i/(|A|+|B|−i) ≤ min/max, so
    // jac ≥ t REQUIRES min ≥ t·max — pairs failing the ratio can never
    // survive the exact verify and are dropped HERE, inside the scan,
    // before they hit the distinct's shuffle (at the derived-sf1 scale
    // the fixture's in-bucket pair volume is ~2×10⁸; precision of the raw
    // candidate set is ~10⁻⁴, so the pre-shuffle cut is the difference
    // between the verify phase being pair-bound and being survivor-bound).
    // The gram count rides the banded rows as one int; results are
    // provably identical, so the DuckDB oracle replay of the portable
    // twin is unchanged.
    val thr = lit(threshold)
    def candsFor(slice: DataFrame): DataFrame = {
      // keep only rows whose bucket passes the 2..100 cap (a left-semi
      // against the per-slice size aggregate — both sides carry the
      // persisted HashPartitioning(b, h), so it inserts no exchange),
      // then expand in-bucket pairs with a SELF-JOIN on the band key.
      // AQE is off, so its strategy is Catalyst's static choice: each
      // side is sized as the whole cached slice (the semi-join keeps its
      // left side's size), 24 bytes a row and `bands` rows a doc, against
      // the broadcast threshold. At the default 96 bands and 10 MB, the
      // 500-doc fixtures (sf0.001, sf0.01: 1.1 MB) broadcast one side and
      // the 5,000-doc one (sf0.1: 11 MB) runs sort-merge: two
      // in-partition sorts, and each matched group buffers at most 100
      // rows (the cap bounds it), so per-task memory is flat at any
      // corpus scale. Every operator here is whole-stage codegen —
      // measured 4× faster COLD than a mapPartitions run scan doing the
      // same work (Janino-compiled expression code is fast on the first
      // invocation; Scala iterator chains need C2 warm-up the bench's
      // cold reps never give them).
      val sliceSizes = slice.groupBy(col("b"), col("h"))
        .agg(count(lit(1)).as("c"))
      // shuffle_hash, NOT broadcast: the bucket-key list is corpus-linear
      // (Catalyst's post-aggregate estimate reads "small" and would
      // broadcast ~#buckets rows to the driver — unbounded at scale);
      // both sides already carry HashPartitioning(b, h), so the semi-join
      // plans with zero exchanges and a per-partition build.
      val capped = slice.join(
        sliceSizes.where(col("c").between(2, 100)).select(col("b"), col("h"))
          .hint("shuffle_hash"),
        Seq("b", "h"), "left_semi")
      val x = capped.select(col("b"), col("h"),
        col("doc_id").as("id_a"), col("n").as("na"))
      val y = capped.select(col("b").as("yb"), col("h").as("yh"),
        col("doc_id").as("id_b"), col("n").as("nb"))
      val pairs = x.join(y,
        col("b") === col("yb") && col("h") === col("yh") &&
          col("id_a") < col("id_b") &&
          least(col("na"), col("nb")).cast("double") >=
            thr * greatest(col("na"), col("nb")))
        .select(col("id_a"), col("id_b"))
      pairs.distinct()
    }
    val cands = candsFor(banded)
    // signature-estimate prefilter (see scaladoc): the distinct pair list
    // is still BARE (16 bytes/row) here — attach 64-byte signatures, not
    // gram arrays, and cut everything whose estimated Jaccard sits more
    // than the 4.1σ margin below the threshold. Only survivors reach the
    // gram-array verify join. The sig relation is corpus-linear (~90 B/doc)
    // — the JOIN STRATEGY is chosen from the planner action's measured doc
    // count (guide §3.1): when nDocs × 90 B fits comfortably under the
    // broadcast budget the sig relation is BROADCAST and the pair list
    // never shuffles in the prefilter at all; past that it degrades to
    // shuffle_hash with the sig side as the small build (never broadcast
    // blind — at corpus scale the sig relation is gigabytes). The byte
    // truncation keeps the carried width at 1/8 of the raw bins.
    // persisted like the gram arrays and buckets (per invocation): the
    // prefilter references the sig relation TWICE (id_a and id_b join
    // sides), so one evictable persist halves the signature pass
    lazy val sigs = materialized(docs, s"minhash-sigs-$portable") {
      val sigDf = g.as[(Long, Array[Long])].mapPartitions { it =>
        it.map { case (id, a) => (id, MinHash.signature(UnsafeArrayData.fromPrimitiveArray(a))) }
      }.toDF("doc_id", "sig")
      sigDf
    }
    val sigsFit = nDocs * 90L < MinhashSigBroadcastBytes
    def prefilter(c: DataFrame): DataFrame =
      if (minEq < 0) c
      else {
        def side(s: DataFrame): DataFrame =
          if (sigsFit) broadcast(s) else s.hint("shuffle_hash")
        c.join(side(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))), "id_a")
          .join(side(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))), "id_b")
          .where(graft.functions.EqualByteCount
            .equal_byte_count(col("sig_a"), col("sig_b")) >= minEq)
          .select(col("id_a"), col("id_b"))
      }
    // single-pass: the unchanged plan. Multi-pass: bands b ≡ i (mod K)
    // per pass, each pass's survivor list eagerly checkpointed (pinned
    // blocks registered with the supersede discipline, released on the
    // operator's next invocation). The pass's shuffle files are then
    // dropped DETERMINISTICALLY via RDD.cleanShuffleDependencies over
    // the just-executed physical RDD (queryExecution.toRdd is a cached
    // lazy val, so this walks the exact DAG the checkpoint ran, not a
    // fresh plan) — the whole point of the split is that pass i+1
    // starts with the scratch pass i used, and a best-effort GC nudge
    // does not bound that. A pair found by bands in two different
    // groups appears in both survivor lists, hence the cross-pass
    // distinct (within one pass the existing distinct holds).
    // Single-pass survivors flow straight into the verify join — they are
    // referenced exactly once, so a persist would be pure overhead under
    // the per-invocation materialization discipline (Checkpoints). The
    // multi-pass path keeps its checkpoint + shuffle-reclaim discipline —
    // its whole point is bounding scratch, not rep latency.
    val survivors =
      if (numPasses == 1) prefilter(cands)
      else {
        val passes = (0 until numPasses).map { i =>
          val pre = prefilter(candsFor(
            banded.where(pmod(col("b"), lit(numPasses)) === i)))
          val mat = graft.Checkpoints.superseding(s"minhash-pass-$i",
            pre.localCheckpoint(true))
          pre.queryExecution.toRdd.cleanShuffleDependencies(blocking = true)
          System.err.println(
            f"[minhash-lsh] pass ${i + 1}/$numPasses done; scratch free " +
              f"${usableScratchBytes(docs.sparkSession) / 1e9}%.1f GB")
          mat
        }
        passes.reduce(_.unionByName(_)).distinct()
      }
    // exact verification on the candidate set (long-array intersections).
    // SHUFFLE_HASH hints on the corpus side (r11 scale run): Catalyst's
    // static estimate after the Generate+distinct is tiny, so unhinted it
    // BROADCASTS the pair relation — whose size scales with the corpus'
    // duplicate structure (>1 GiB collected to the driver at the
    // sf1-equivalent scale, unbounded at 100 TB). Sort-merge fixes the
    // topology but SORTS the pair relation twice — the second pass drags
    // a gram array per row through the sort (~16 GB of spill at 1.65×10⁸
    // candidates). Shuffled-hash streams the pairs UNSORTED and builds
    // the per-partition hash from the corpus side, which is small by
    // construction (docs/partitions rows); g's persisted doc_id
    // hash-partitioning is reused, so the gram arrays never re-shuffle.
    def verifyJoin(pairs: DataFrame): DataFrame = pairs
      .join(g.select(col("doc_id").as("id_a"), col("gs").as("gs_a")).hint("shuffle_hash"), "id_a")
      .join(g.select(col("doc_id").as("id_b"), col("gs").as("gs_b")).hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.IntersectSizeSorted
          .intersect_size_sorted(col("gs_a"), col("gs_b")).as("ni"),
        size(col("gs_a")).as("na"), size(col("gs_b")).as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni"))).as("jac"))
      .where(col("jac") >= threshold)
    // The r13 ×100 disk-watch run showed the candidate passes returning
    // their scratch fully (cleanShuffleDependencies) and the VERIFY join
    // then writing the blow-up alone: each surviving pair drags two
    // ~2.4 KB gram arrays through the join shuffles. Under a multi-pass
    // plan the verify is therefore batch-partitioned the same way —
    // survivors split by hash into K batches, each joined + checkpointed
    // + its shuffle files reclaimed before the next starts. Peak verify
    // scratch drops to 1/K at the cost of re-shuffling the (corpus-
    // linear, ~90 B/doc... the gram relation) K times.
    if (numPasses == 1) {
      val result = verifyJoin(survivors)
      // the verified pair list (tiny by construction) is materialized
      // EAGERLY so the whole operator — including the caller-visible
      // result — executes under the AQE-off scope this function controls;
      // the returned frame is a plain scan of the checkpointed partitions
      // and the NEXT invocation releases them (superseding discipline)
      graft.Checkpoints.superseding(s"minhash-result-$portable",
        result.localCheckpoint(true))
    }
    else {
      val sv = graft.Checkpoints.superseding("minhash-survivors",
        survivors.localCheckpoint(true))
      (0 until numPasses).map { i =>
        val pre = verifyJoin(
          sv.where(pmod(xxhash64(col("id_a")), lit(numPasses)) === i))
        val mat = graft.Checkpoints.superseding(s"minhash-verify-$i",
          pre.localCheckpoint(true))
        pre.queryExecution.toRdd.cleanShuffleDependencies(blocking = true)
        System.err.println(
          f"[minhash-lsh] verify batch ${i + 1}/$numPasses done; scratch free " +
            f"${usableScratchBytes(docs.sparkSession) / 1e9}%.1f GB")
        mat
      }.reduce(_.unionByName(_))
    }
    } finally docs.sparkSession.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
