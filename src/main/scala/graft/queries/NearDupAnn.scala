package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{Query, Slot, load, t}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Near-duplicate detection, similarity search over embeddings and media
  * decode, each query with its oracle: SQL that re-verifies or re-ranks the
  * engine's materialized candidates. */
private[graft] object NearDupAnn {

  /** Settings a query shares with the side table or oracle SQL that
    * re-checks it: one value each, so the two cannot drift apart. */
  private[graft] final val EmbDim = 64
  private final val LshBits = 6
  private final val LshTables = 10
  private final val IvfProbes = 7
  private final val PqRerank = 128
  private final val SimhashMaxDist = 6
  private final val JaccardThreshold = 0.7

  /** Plant near-duplicates: a copy of each doc with every 20th token
    * replaced, ids offset by 1,000,000 — known ground-truth pairs for the
    * near-dup detectors at any scale factor. */
  private def withPlantedTextDups(docs: DataFrame): DataFrame = {
    val perturbed = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
        (t, i) => when((i + 1) % 20 === 0, lit("zz")).otherwise(t))).as("text"))
    docs.select(col("doc_id"), col("text")).union(perturbed)
  }

  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    withPlantedTextDups(load(s, dir, "documents").select(col("doc_id"), col("text")))

  /** q43's corpus: the embeddings plus near-identical planted ones, a
    * perturbed copy of every vector with its id offset by 1,000,000 —
    * ground-truth near-dup pairs. */
  private[graft] def plantedEmb(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = base.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x * 0.99f + 0.003f).as("embedding"))
    base.union(planted)
  }

  // double-cast before the dot product: bit-stable vs the DuckDB oracle
  private def embCorpus(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  private def annQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def ivfModel(e: DataFrame) =
    graft.operators.Ivf.fit(e, "vec_id", "embedding", k = 8)
  private def pqModel(e: DataFrame) =
    graft.operators.Pq.fit(e, "vec_id", "embedding", m = 16, ksub = 32)

  /** Synthesized media blobs, slot-cached per (session, sfDir), persisted
    * and materialized eagerly — the skipRuleOutcome pattern. q46 and the
    * media_features materialization decode the SAME blobs, and the bench
    * leg times DECODE (the operator under test) instead of re-paying fixture
    * synthesis (PNG/WAV/MJPEG-AVI encode) every round: synthesis stands in
    * for reading real blobs, which a production run scans from the table
    * once, not per query. */
  private val media = new Slot[Dataset[Multimodal.MediaRow]](_.unpersist())

  private[graft] def mediaTable(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] =
    media(s, dir) {
      val m = Multimodal.synthesizeMedia(load(s, dir, "documents"), s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      m.count() // materialize here, outside any timed region
      m
    }

  /** The `sh` CTE of the q41/q57 oracles: distinct word 3-shingles of the
    * planted documents. */
  private def plantedShinglesCte: String =
    s"""WITH sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words) >= 3
       |    THEN [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
       |    ELSE [array_to_string(words, ' ')] END) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
       |        FROM ${t("docs_planted")}) w)""".stripMargin

  /** The shared ANN contract of q45/q47/q69: DuckDB exactly re-ranks the
    * engine's materialized candidate set `cands` against the embeddings. */
  private def reRankSql(cands: String): String =
    s"""SELECT query_id, id, round(cos, 6) AS cos, rank FROM (
       |  SELECT c.query_id, c.id,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.embedding AS DOUBLE[])) AS cos,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |        CAST(q.embedding AS DOUBLE[])) DESC, c.id) AS rank
       |  FROM ${t(cands)} c
       |  JOIN embeddings e ON c.id = e.vec_id
       |  JOIN embeddings q ON c.query_id = q.vec_id) v
       |WHERE rank <= 10""".stripMargin

  private[graft] val queries: Seq[(String, Query)] = Seq(
    // ---- dedup family: verify stages over materialized candidate pairs -----
    "q40_dedup_exact" -> Query((s, dir) => {
      Dedup.exactGroups(load(s, dir, "documents"), "doc_id", "text")
    }, """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
         |  count(*) AS n_docs
         |FROM documents GROUP BY md5(text)""".stripMargin),
    "q41_dedup_minhash" -> Query((s, dir) => {
      Dedup.minhashNearDups(plantedDocs(s, dir), "doc_id", "text",
        threshold = JaccardThreshold)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }, s"""$plantedShinglesCte
          |SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
          |  SELECT c.id_a, c.id_b,
          |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |      / len(list_distinct(list_concat(a.s, b.s))) AS j
          |  FROM ${t("minhash_cands")} c
          |  JOIN sh a ON c.id_a = a.doc_id
          |  JOIN sh b ON c.id_b = b.doc_id) v
          |WHERE j >= $JaccardThreshold""".stripMargin),
    "q57_dedup_ngram_jaccard" -> Query((s, dir) => {
      // exact-complete n-gram Jaccard join (prefix-filtered inverted index):
      // unlike q41's probabilistic banding this returns EVERY pair with
      // J >= 0.7; the oracle is STRONGER than q41's: the full ALL-PAIRS
      // Jaccard join (feasible at oracle scale), so a candidate-generation
      // false NEGATIVE — not just a bad verify — breaks the hash, for
      // either physical strategy.
      // the join picks its path from sampled df statistics: the bench
      // documents table is a DENSE-vocabulary corpus (30k distinct
      // shingles, mean df ~17 — nothing is rare), so it lands on the
      // posting count-join (~6x over prefix+verify here); both paths
      // return identical rows (spec-checked) and the all-pairs oracle is
      // path-independent
      Dedup.ngramNearDups(plantedDocs(s, dir), "doc_id", "text",
        threshold = JaccardThreshold)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }, s"""$plantedShinglesCte
          |SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |      / len(list_distinct(list_concat(a.s, b.s))) AS j
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) v
          |WHERE j >= $JaccardThreshold""".stripMargin),
    "q42_dedup_simhash" -> Query((s, dir) => {
      Dedup.simhashNearDups(plantedDocs(s, dir), "doc_id", "text",
        maxDist = SimhashMaxDist)
    }, s"""SELECT c.id_a, c.id_b,
          |  CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS dist
          |FROM ${t("simhash_cands")} c
          |JOIN ${t("simhash_sigs")} sa ON c.id_a = sa.id
          |JOIN ${t("simhash_sigs")} sb ON c.id_b = sb.id
          |WHERE bit_count(xor(sa.sh, sb.sh)) <= $SimhashMaxDist""".stripMargin),
    "q43_dedup_embedding" -> Query((s, dir) => {
      Dedup.embeddingNearDups(plantedEmb(s, dir), "vec_id", "embedding",
        dim = EmbDim, threshold = 0.98)
        .withColumn("cos", round(col("cos"), 6))
    }, s"""SELECT id_a, id_b, round(cos, 6) AS cos FROM (
          |  SELECT c.id_a, c.id_b,
          |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |      CAST(b.embedding AS DOUBLE[])) AS cos
          |  FROM ${t("emb_cands")} c
          |  JOIN ${t("emb_planted")} a ON c.id_a = a.vec_id
          |  JOIN ${t("emb_planted")} b ON c.id_b = b.vec_id) v
          |WHERE cos >= 0.98""".stripMargin),
    "q49_dedup_corpus" -> Query((s, dir) => {
      // end-to-end corpus dedup: exact collapse -> minhash pairs -> connected
      // components -> one keeper per cluster
      val deduped = Dedup.dedupCorpus(plantedDocs(s, dir), "doc_id", "text",
        threshold = JaccardThreshold)
      deduped.agg(
        count(lit(1)).as("docs_kept"),
        sum(when(col("doc_id") >= 1000000L, 1).otherwise(0)).as("planted_kept"))
    }, s"""SELECT count(*) AS docs_kept,
          |  CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS planted_kept
          |FROM ${t("corpus_keepers")}""".stripMargin),

    // ---- similarity search: re-rank stages over materialized candidates ---
    "q44_ann_brute_topk" -> Query((s, dir) => {
      val e = embCorpus(s, dir)
      Similarity.bruteForceTopK(e, "vec_id", "embedding", annQueries(e), "qid", "qv", 10)
        .withColumn("cos", round(col("cos"), 6))
    }, """SELECT query_id, id, round(cos, 6) AS cos, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS id,
         |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |      CAST(q.embedding AS DOUBLE[])) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |        CAST(q.embedding AS DOUBLE[])) DESC,
         |        c.vec_id) AS rank
         |  FROM embeddings c, embeddings q
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id) t
         |WHERE rank <= 10""".stripMargin),
    "q45_ann_lsh_topk" -> Query((s, dir) => {
      val e = embCorpus(s, dir)
      // Sizing (rule at Similarity.lshCandidates): nBits=6 keeps ~2000/64 ≈
      // 31 vectors/bucket; the bench corpus is near-isotropic (top-10
      // neighbors at cos≈0.3 → per-plane disagreement p≈0.40, the
      // adversarial case), so one table at probe radius 1 recalls only
      // ≈0.23 and the 0.9 recall gate (BENCH recall_at_10) needs L=10
      // independent tables: 1-(1-0.23)^10 ≈ 0.93. Clustered production
      // embeddings (p≈0.2) hit the same target with L=2-4 at nBits 16+.
      Similarity.lshTopK(e, "vec_id", "embedding", annQueries(e), "qid", "qv", 10,
        dim = EmbDim, nBits = LshBits, nTables = LshTables)
        .withColumn("cos", round(col("cos"), 6))
    }, reRankSql("ann_lsh_cands")),
    "q47_ann_ivf_topk" -> Query((s, dir) => {
      val e = embCorpus(s, dir)
      // probes=7 of k=8: on the near-isotropic bench corpus IVF recall
      // tracks the probed fraction (centroids carry little signal — recall
      // 0.66 measured at probes=4), so the 0.9 recall gate needs
      // probes ≈ 0.9k. Clustered production embeddings concentrate
      // neighbors in 1-2 cells; there probes ≈ 2-3 of a much larger k.
      graft.operators.Ivf.topK(e, "vec_id", "embedding",
        annQueries(e), "qid", "qv", 10, ivfModel(e), probes = IvfProbes)
        .withColumn("cos", round(col("cos"), 6))
    }, reRankSql("ann_ivf_cands")),
    "q69_ann_pq_topk" -> Query((s, dir) => {
      // product-quantization ANN (Jégou et al. 2011): per-subspace k-means
      // codebooks on a bounded sample, one-byte-per-subspace codes, ADC
      // lookup-table scan to top-r candidates, exact cosine re-rank. The
      // oracle re-ranks the materialized candidate set exactly (the shared
      // ANN contract); candidate recall is gated in the bench.
      // m=16/ksub=32/r=128 measured at recall@10 = 0.94 on the sf0.1
      // bench corpus (round-5 parameter sweep) — near-isotropic embeddings are
      // PQ's worst case exactly as they are IVF's (q47's probes=7 note);
      // 16 bytes/vec is still a 32x cut vs the raw float64 vectors.
      val e = embCorpus(s, dir)
      graft.operators.Pq.topK(e, "vec_id", "embedding",
        annQueries(e), "qid", "qv", 10, pqModel(e), r = PqRerank)
        .withColumn("cos", round(col("cos"), 6))
    }, reRankSql("ann_pq_cands")),

    // ---- multimodal (image/audio/MJPEG-video decode all REAL: javax.imageio,
    // javax.sound.sampled, MjpegAvi; other codecs fall to the honest stub) ---
    "q46_multimodal_features" -> Query((s, dir) => {
      Multimodal.decode(mediaTable(s, dir)).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("decoded"), 1).otherwise(0)).as("n_decoded"),
          sum(col("n_bytes")).as("total_bytes"),
          round(avg(col("entropy")), 4).as("avg_entropy"),
          round(avg(col("rms")), 4).as("avg_rms"),
          sum(col("width").cast("long")).as("total_px_width"),
          sum(col("frames_sampled")).as("frames_sampled"))
    }, s"""SELECT kind, count(*) AS n,
          |  CAST(sum(CASE WHEN decoded THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
          |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
          |  round(avg(entropy), 4) AS avg_entropy,
          |  round(avg(rms), 4) AS avg_rms,
          |  CAST(sum(width) AS BIGINT) AS total_px_width,
          |  CAST(sum(frames_sampled) AS BIGINT) AS frames_sampled
          |FROM ${t("media_features")} GROUP BY kind""".stripMargin)
  )

  /** Planted corpora, candidate sets and decoded media, for the oracles
    * above. */
  private[graft] val materializations: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "docs_planted" -> ((s, dir) => plantedDocs(s, dir)),
    "minhash_cands" -> ((s, dir) =>
      Dedup.minhashCandidates(plantedDocs(s, dir), "doc_id", "text")),
    "simhash_sigs" -> ((s, dir) =>
      Dedup.simhashSignatures(plantedDocs(s, dir), "doc_id", "text")),
    "simhash_cands" -> ((s, dir) =>
      Dedup.simhashCandidates(
        Dedup.simhashSignatures(plantedDocs(s, dir), "doc_id", "text"),
        maxDist = SimhashMaxDist)
        .select("id_a", "id_b")),
    "emb_planted" -> ((s, dir) => plantedEmb(s, dir)),
    "emb_cands" -> ((s, dir) =>
      Dedup.embeddingCandidates(plantedEmb(s, dir), "vec_id", "embedding", dim = EmbDim)
        .select("id_a", "id_b")),
    // the oracle re-ranks each ANN candidate set below, so each shares its
    // query's settings
    "ann_lsh_cands" -> ((s, dir) => {
      val e = embCorpus(s, dir)
      Similarity.lshCandidates(e, "vec_id", "embedding", annQueries(e), "qid", "qv",
        dim = EmbDim, nBits = LshBits, nTables = LshTables).select("query_id", "id")
    }),
    "ann_ivf_cands" -> ((s, dir) => {
      val e = embCorpus(s, dir)
      graft.operators.Ivf.candidates(e, "vec_id", "embedding",
        annQueries(e), "qid", "qv", ivfModel(e), probes = IvfProbes).select("query_id", "id")
    }),
    "ann_pq_cands" -> ((s, dir) => {
      // fit is deterministic, so refitting reproduces q69's model and
      // candidate set
      val e = embCorpus(s, dir)
      graft.operators.Pq.candidates(e, "vec_id", "embedding",
        annQueries(e), "qid", "qv", pqModel(e), r = PqRerank).select("query_id", "id")
    }),
    "media_features" -> ((s, dir) =>
      Multimodal.decode(mediaTable(s, dir)).toDF()),
    "corpus_keepers" -> ((s, dir) =>
      Dedup.dedupCorpus(plantedDocs(s, dir), "doc_id", "text", threshold = JaccardThreshold)
        .select("doc_id"))
  )
}
