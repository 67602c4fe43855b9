package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization ANN (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011 — public) — the
  * compressed-index scale path beyond IVF: vectors are cut into `m`
  * subvectors, each quantized to one of `ksub` per-subspace centroids, so a
  * corpus vector is stored as `m` bytes instead of `dim` doubles (the
  * shipped q69 config, m=16 over 64-d float64, is 16 bytes/vector — a 32×
  * memory cut; coarser m trades recall for compression). At 10^12-row
  * scale that is the difference between an index that fits executor memory
  * and one that doesn't.
  *
  * Split of labor (same discipline as [[Ivf]] / [[Bpe]]):
  *  - TRAIN driver-side: per-subspace k-means over a bounded HashSample of
  *    L2-NORMALIZED vectors (cosine reduces to L2 on the unit sphere:
  *    ||a−b||² = 2−2·cos for unit a, b — so ADC can use the classic L2
  *    tables and still rank by cosine). Deterministic init + tie-breaks.
  *  - ENCODE distributed: broadcast codebooks, mapPartitions, one byte per
  *    subspace per vector. The codes table is the persistent index (a
  *    production pipeline materializes it next to the corpus).
  *  - SEARCH: per-query ADC lookup tables (m × ksub partial squared
  *    distances, built driver-side for the small query set, broadcast);
  *    the scan sums m table entries per code — no vector arithmetic — and
  *    keeps a k-bounded [[TopK.State]] heap PER QUERY PER PARTITION, so
  *    the shuffle carries partitions × queries × r tiny rows, exactly the
  *    q44 partial-agg shape. ADC top-r candidates then re-rank EXACTLY
  *    (original vectors, fused cosine), which restores exact ordering on
  *    whatever the candidate set contains — the same
  *    candidates-then-verify contract as LSH/IVF, oracle-checked the same
  *    way (DuckDB re-ranks the materialized candidate set).
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j (length dim/m each). */
  final case class Model(m: Int, ksub: Int, dim: Int,
      codebooks: Array[Array[Array[Double]]]) extends Serializable {
    def dsub: Int = dim / m
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val s = math.sqrt(n)
    if (s == 0.0) v
    else {
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) / s; i += 1 }
      out
    }
  }

  private def l2sq(a: Array[Double], aOff: Int, b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < b.length) {
      val t = a(aOff + i) - b(i); d += t * t; i += 1
    }
    d
  }

  /** Nearest codebook entry for subspace j of (already offset) vector v;
    * ties break to the LOWEST index (strict <), deterministically. */
  private def nearest(v: Array[Double], off: Int,
      book: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val d = l2sq(v, off, book(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Driver-side per-subspace k-means over a bounded deterministic sample.
    * `ksub` ≤ 256 (codes are bytes); `m` must divide the dimension. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, sampleSize: Int = 2048,
      iters: Int = 10): Model = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    require(m >= 1, s"m must be >= 1, got $m")
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val sample = HashSample.collectRows(base, "id", sampleSize)
      .map(r => normalize(r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "PQ fit: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m

    // shared Lloyd core per subspace (L2 assignment, ties to lowest index)
    val codebooks = Array.tabulate(m) { j =>
      val off = j * dsub
      val slices = sample.map(v =>
        java.util.Arrays.copyOfRange(v, off, off + dsub))
      KMeansCore.lloyd(slices, ksub, iters)((v, book) => nearest(v, 0, book))
    }
    Model(m, ksub, dim, codebooks)
  }

  /** Distributed encode: (id, code) with code = m bytes. Vectors are
    * L2-normalized before quantization (cosine-as-L2 contract). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val mod = bc.value
        val dsub = mod.dsub
        it.map { case (id, vs) =>
          val v = normalize(vs.toArray)
          require(v.length == mod.dim,
            s"vector $id has dim ${v.length}, model expects ${mod.dim}")
          val code = new Array[Byte](mod.m)
          var j = 0
          while (j < mod.m) {
            code(j) = nearest(v, j * dsub, mod.codebooks(j)).toByte
            j += 1
          }
          (id, code)
        }
      }
      .toDF("id", "code")
  }

  /** ADC top-r candidate ids per query from the codes table alone:
    * (query_id, id). Queries are collected driver-side (they are small by
    * contract, same as [[Ivf.candidates]]); per-query lookup tables are
    * broadcast; scores are NEGATED squared ADC distances so the shared
    * max-heap machinery ranks nearest-first. Self-matches excluded. */
  def adcCandidates(codes: DataFrame, queries: DataFrame, qidCol: String,
      qvecCol: String, model: Model, r: Int = 64): DataFrame = {
    require(r >= 1, s"r must be >= 1, got $r")
    val spark = codes.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(qidCol).cast("long").as("query_id"),
      col(qvecCol).cast("array<double>").as("qv")).collect()
    val dsub = model.dsub
    // tables(q)(j * ksub + c) = ||query_sub_j - centroid_{j,c}||^2
    val qids = qRows.map(_.getLong(0))
    val tables = qRows.map { row =>
      val qv = normalize(row.getSeq[Double](1).toArray)
      require(qv.length == model.dim,
        s"query ${row.getLong(0)} has dim ${qv.length}, model expects ${model.dim}")
      val t = new Array[Double](model.m * model.ksub)
      var j = 0
      while (j < model.m) {
        var c = 0
        while (c < model.ksub) {
          t(j * model.ksub + c) = l2sq(qv, j * dsub, model.codebooks(j)(c))
          c += 1
        }
        j += 1
      }
      t
    }
    val bc = spark.sparkContext.broadcast((qids, tables, model.m, model.ksub))
    codes.select(col("id").cast("long"), col("code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val (ids, tabs, m, ksub) = bc.value
        val heaps = Array.fill(ids.length)(new TopK.State(r))
        it.foreach { case (id, code) =>
          var q = 0
          while (q < ids.length) {
            if (ids(q) != id) {
              val t = tabs(q)
              var d = 0.0
              var j = 0
              while (j < m) {
                d += t(j * ksub + (code(j) & 0xff))
                j += 1
              }
              heaps(q).insert(-d, id) // nearest = highest score
            }
            q += 1
          }
        }
        // partition-local top-r per query; global merge via topKPerGroup
        Iterator.range(0, ids.length).flatMap { q =>
          heaps(q).sorted.iterator.map(h => (ids(q), h.id, h.score))
        }
      }
      .toDF("query_id", "id", "_adc")
      .transform(TopK.topKPerGroup(_, "query_id", "id", "_adc", r))
      .select(col("query_id"), col("id"))
  }

  /** Full PQ ANN top-k: encode → ADC top-r candidates → EXACT cosine
    * re-rank on the original vectors (the tiny candidate set is broadcast
    * into both joins — the row-scaled corpus never shuffles). */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, model: Model, r: Int = 64): DataFrame = {
    val cands = candidates(corpus, idCol, vecCol, queries, qidCol, qvecCol,
      model, r)
    Similarity.rerankTopK(cands, k)
  }

  /** PQ candidate set in the shared (query_id, id, v, qv) re-rank shape. */
  def candidates(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      model: Model, r: Int = 64): DataFrame = {
    val codes = encode(corpus, idCol, vecCol, model)
    val ids = adcCandidates(codes, queries, qidCol, qvecCol, model, r)
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val qv = queries.select(col(qidCol).cast("long").as("query_id"),
      col(qvecCol).cast("array<double>").as("qv"))
    vecs.join(broadcast(ids), Seq("id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("id"), col("v"), col("qv"))
  }
}
