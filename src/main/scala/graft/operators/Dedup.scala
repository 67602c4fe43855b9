package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.pin
import org.apache.spark.sql.functions._

/** Deduplication family for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Algorithms are the published standards: MinHash resemblance sketching
  * (Broder, "On the resemblance and containment of documents", SEQUENCES
  * 1997) with banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive
  * Datasets ch. 3), SimHash (Charikar, "Similarity estimation techniques
  * from rounding algorithms", STOC 2002) with the Hamming-pigeonhole
  * bucketing of Manku/Jain/Das Sarma (WWW 2007).
  *
  * Scale design: every near-dup variant is **candidate generation by
  * bucketing (banded LSH) + exact verification within buckets** — never an
  * all-pairs cross join. The only shuffles are groupBy(bucket) with map-side
  * partial aggregation; band-bucket joins are self-equi-joins on short keys.
  * MinHash signatures are pure `Column` expressions (higher-order functions
  * over xxhash64) — whole-stage codegen, no UDFs. This is the dedup analog of
  * the reference's dict-keyed first-wins insert
  * (/root/reference/src/diary/diary_data.py:33-49) generalized to *near*
  * duplicates.
  *
  * Physical paths are the operator's own choice, never the caller's: the
  * exact n-gram join ([[ngramNearDups]]) picks prefix index or count-join
  * from sampled df statistics and routes hot shingles itself, and
  * [[nearDupClusters]] picks a local union-find or the distributed
  * star loop by pair count. Neither takes a strategy, cap, sample or gate
  * option.
  */
object Dedup {

  // ---- exact ------------------------------------------------------------

  /** Exact dedup on content hash; deterministic keeper = min id.
    * Returns (hash, keeper_id, n_dups). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Exact-deduplicated view: keep the min-id doc per content hash. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val payload = struct(docs.columns.map(col).toIndexedSeq: _*)
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min_by(payload, col(idCol)).as("keeper"))
      .select("keeper.*")
  }

  // ---- MinHash + banded LSH ----------------------------------------------

  /** Banded LSH candidate pairs (id_a < id_b), UNVERIFIED: signatures agree
    * on at least one of `bands` bands (rows = k/bands each). Exposed
    * standalone so the verify stage can be independently re-checked (the
    * DuckDB oracle recomputes exact Jaccard over exactly this pair set).
    *
    * PRECONDITION at scale: collapse EXACT duplicates first (dedupCorpus
    * does) — a mass-duplicated text puts its whole copy set into one band
    * bucket and the self-join goes quadratic in the copy count. The same
    * applies to simhashCandidates/embeddingCandidates.
    *
    * Signature+banding run in ONE typed pass per document (HashCore):
    * the pure-Column formulation re-evaluates the shingle/hash chain per
    * permutation after projection collapse — measured 70× slower. The only
    * shuffles are the band-bucket self-join and candidate dedup. */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature size k ($k) — " +
        "otherwise trailing permutations would be silently unused")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text")).as[(Long, String)]

    // (id, band, band_key): one pass per doc
    val banded = base.mapPartitions(_.flatMap { case (id, text) =>
      val sig = HashCore.minhashSignature(HashCore.shingleHashes(text, shingleK), k)
      val keys = HashCore.bandKeys(sig, bands)
      Iterator.tabulate(bands)(b => (id, b, keys(b)))
    }).toDF("id", "band", "band_key")

    val a = banded.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact-Jaccard verification of a candidate pair set: joins the texts
    * back and keeps pairs with word-shingle Jaccard ≥ `threshold`, computed
    * over the raw distinct shingle STRINGS — bit-identical to what an
    * independent SQL engine computes, no hash-collision caveat.
    *
    * Cost disciplines, all measured:
    *  - shingle arrays are projected ONCE PER DOC on the join build side,
    *    never inlined per pair (a per-pair Column-form Jaccard re-evaluates
    *    the shingle expression four times per candidate pair — ~2.7 s extra
    *    at sf0.01);
    *  - corpus-wide shingle projection joined on both pair sides in ONE
    *    job — the scans overlap across the cluster and nothing is
    *    materialized. Bench corpora with planted duplicates have ~80% of
    *    docs in some pair, where this is the fastest shape. */
  private def verifyJaccard(
      docs: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, threshold: Double, shingleK: Int = 3): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // typed one-pass shingle kernel (HashCore.shingleStrings — differential-
    // locked against array_distinct(shinglesCol) in HashCoreSpec): the Column
    // expression chain re-evaluates split/transform per output array element
    // after projection collapse — measured 7× slower building the verify-side
    // shingle table at bench scale (2.85 s vs 0.39 s for the same corpus)
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = base.as[(Long, String)].mapPartitions(_.map { case (id, text) =>
      // null-safe like the Column form it replaced (shinglesCol over a
      // null text degraded to the single empty shingle)
      (id, HashCore.shingleStrings(if (text == null) "" else text, shingleK))
    }).toDF("id", "sh")
    // fused native expression: no intersect/union result arrays per pair
    // (they were built only to take their sizes); coalesce preserves the
    // composed form's null-array -> 0.0 behavior
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", coalesce(
        graft.functions.ArrayJaccard(col("sh_a"), col("sh_b")), lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash near-dups = banded-LSH candidates + exact Jaccard verify.
    * Returns (id_a, id_b, jaccard), id_a < id_b. Requires a numeric id. */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      shingleK: Int = 3): DataFrame =
    verifyJaccard(docs, idCol, textCol,
      minhashCandidates(docs, idCol, textCol, k, bands, shingleK),
      threshold, shingleK)

  // ---- n-gram Jaccard via prefix-filtered inverted index -------------------

  /** (id, sz, shingle) postings via a typed one-pass kernel. NOT the Column
    * size+explode form: projection collapse inlines the shingling chain
    * under the Generate and re-evaluates it per exploded row — measured 13×
    * slower at bench scale (explode of a projected shingle array: 5.45 s;
    * the same explode over materialized arrays: 0.31 s). */
  private def shinglePostings(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val sh = HashCore.shingleStrings(text, shingleK)
        sh.iterator.map(s => (id, sh.length, s))
      }).toDF("id", "sz", "shingle")
  }

  /** Prefix-filtered inverted-index candidate pairs for exact n-gram-Jaccard
    * join, UNVERIFIED — the third candidate-generation family next to
    * MinHash banding (probabilistic) and SimHash pigeonholing: this one is
    * EXACT-COMPLETE (zero false negatives) for Jaccard ≥ `threshold`.
    * Published method: prefix filtering (Chaudhuri/Ganti/Kaushik, "A
    * primitive operator for similarity joins in data cleaning", ICDE 2006)
    * with size filtering (Xiao/Wang/Lin/Yu, "Efficient similarity joins for
    * near duplicate detection", WWW 2008 — PPJoin's base filter).
    *
    * Why it is complete: order every doc's distinct shingles by a global
    * total order (ascending corpus document frequency, ties by shingle
    * string) and call the first floor((1-t)*|d|)+1 shingles the doc's
    * PREFIX. If J(a,b) ≥ t then |a∩b| ≥ ceil(t*|a|), so by pigeonhole the
    * globally-smallest common shingle sits inside BOTH prefixes — an
    * equi-join on prefix postings alone surfaces every qualifying pair.
    *
    * Why it scales: the prefix keeps each doc's RAREST shingles, so
    * stopword-like hot shingles are exactly the ones excluded from the
    * index — posting lists in the join are short by construction (that is
    * the entire point of df-ascending ordering). Shuffles: one groupBy on
    * shingle (df, partial-agg), one join back on shingle, one per-doc
    * window (partitioned by id, bounded by doc length — never global), and
    * the posting self-join on short lists. Size filter t*max ≤ min prunes
    * before dedup. Same mass-duplicate precondition as
    * minhashCandidates: collapse exact duplicates first. */
  private[operators] def ngramCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned ONCE: the posting table feeds the df aggregation AND the
    // join back AND (through `prefix`) both sides of the posting self-join —
    // without the pin the shingling pass re-executes per consumer
    // (measured: the prefix chain paid ~4 full posting passes at bench
    // scale). Same lifecycle-stage precedent as dedupCorpus's exact table:
    // a production run materializes the inverted index before joining it.
    val postings = pin(shinglePostings(docs, idCol, textCol, shingleK))
    val dfreq = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
    // prefix length = sz - ceil(t*sz) + 1, with FpEps guarding the IEEE
    // rounding cliff: fl(0.8)*5 lands an ulp ABOVE 4, so the naive
    // floor((1-t)*sz)+1 form computes prefix 1 where the theorem needs 2
    // and a J=0.8 pair is silently never generated (false negative). The
    // epsilon only ever LENGTHENS the prefix — completeness is one-sided.
    val prefix = pin(ranked
      .filter(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(FpEps)) + 1)
      .select("shingle", "id", "sz")) // feeds both sides of the self-join below
    val a = prefix.select(col("shingle"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("shingle"), col("id").as("id_b"), col("sz").as("sz_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(sizeCompatible(threshold))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Rounding guard for the integer-boundary filters: double products like
    * fl(0.9)*10 exceed the exact integer by an ulp, which would falsely
    * reject boundary pairs. Far larger than accumulated rounding error for
    * any realistic shingle-set size, far smaller than 1/sz for sz < 10^7. */
  private val FpEps = 1e-9

  /** Size filter t*max <= min with the FpEps guard (one-sided: only ever
    * ADMITS a boundary pair, never drops one the verify stage would keep —
    * J >= t forces t*max(|a|,|b|) <= |a∩b| <= min(|a|,|b|)). */
  private def sizeCompatible(threshold: Double): Column =
    greatest(col("sz_a"), col("sz_b")) * threshold - lit(FpEps) <=
      least(col("sz_a"), col("sz_b"))

  /** Posting-list df above which [[ngramNearDupsByCount]] routes a shingle
    * through the pairwise self-join instead of the grouped combination
    * kernel: the kernel buffers one shingle's full (id, sz) posting list in
    * aggregation state (≤ ~16 B × df), so the cap bounds that state at a
    * few MB while hot shingles keep the join's graceful spill behavior. */
  private[operators] val CountJoinHotDf: Long = 1L << 18

  /** Exact n-gram Jaccard join, count-join strategy: self-join the FULL
    * posting lists on shingle, partial-aggregate |a∩b| per pair, and compute
    * J = c / (|a| + |b| - c) directly — the inclusion–exclusion form. No
    * candidate stage, no shingle ARRAYS in any shuffle (rows are short
    * (shingle, id, size) triples and the pair aggregation is map-side
    * partial), and the early size filter t*max ≤ min prunes generated rows
    * before they reach the aggregate.
    *
    * Regime: cost is Σ_s df(s)² join rows — right when the shingle
    * vocabulary is DENSE (small vocab, flat df, no rare shingles: the
    * regime where prefix filtering degenerates because nothing is rare).
    * On Zipfian corpora the hot-shingle df² term explodes and the prefix
    * strategy wins. Measured on the bench corpus (30k distinct shingles,
    * median df 17): count-join ~6× faster than prefix+verify; on a planted
    * web-like corpus the ordering flips. The two strategies are the same
    * logical operator — pick by corpus df statistics, the engine's analog
    * of Spark's broadcast-vs-sort-merge join choice, made by
    * [[ngramNearDups]]. */
  private[operators] def ngramNearDupsByCount(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleK: Int = 3,
      hotDfCap: Long = CountJoinHotDf): DataFrame = {
    require(hotDfCap >= 1, s"hotDfCap must be >= 1, got $hotDfCap")
    val spark = docs.sparkSession
    import spark.implicits._
    // one shingling pass, reused by the hot-shingle probe and both pair
    // generators (the ngramCandidates materialization rationale)
    val postings = pin(shinglePostings(docs, idCol, textCol, shingleK))
    // HOT shingles (df > cap) are tiny BY CONSTRUCTION of the cap (at most
    // |postings| / cap of them) — one partial-agg count probe finds them;
    // the common case (every df under the cap) costs exactly that probe and
    // routes everything through the grouped kernel with NO join at all.
    val hotShingles = pin(postings.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDfCap)
      .select("shingle")) // feeds the anti + semi splits below (tiny)
    val anyHot = !hotShingles.isEmpty
    // COLD shingles: group each shingle's posting list once and enumerate
    // its C(df, 2) id pairs directly in a typed kernel, size filter applied
    // at generation. Emits id_a < id_b pairs ONCE each per shingle — half
    // the rows of the self-join (which generates df² and then filters
    // a < b) and no join. Aggregation state is bounded by the cap
    // (≤ ~16 B × hotDfCap per shingle).
    val coldPostings =
      if (anyHot) postings.join(hotShingles, Seq("shingle"), "left_anti")
      else postings
    val eps = FpEps
    val thr = threshold
    val cold = coldPostings
      .groupBy(col("shingle"))
      .agg(collect_list(struct(col("id"), col("sz"))).as("docs"))
      .select(col("docs"))
      .as[Seq[(Long, Int)]]
      .mapPartitions(_.flatMap { docs =>
        // LAZY pair enumeration: per-task memory stays the input posting
        // list (≤ ~16 B × hotDfCap) — materializing the C(df,2) output
        // pairs first would be O(df²) heap where the replaced self-join
        // spilled gracefully
        val arr = docs.toArray
        val n = arr.length
        new Iterator[(Long, Long, Int, Int)] {
          private var i = 0
          private var j = 1
          private var nextPair: (Long, Long, Int, Int) = null
          private def advance(): Unit = {
            nextPair = null
            while (nextPair == null && i < n) {
              while (nextPair == null && j < n) {
                val (ia, sa) = arr(i); val (ib, sb) = arr(j)
                j += 1
                // strict inequality: a duplicated input id must not emit a
                // self-pair (the pairwise-join branch filters id_a < id_b)
                if (ia != ib) {
                  val (la, lb, xa, xb) =
                    if (ia < ib) (ia, ib, sa, sb) else (ib, ia, sb, sa)
                  // identical size filter to sizeCompatible (same FpEps)
                  if (math.max(xa, xb) * thr - eps <= math.min(xa, xb))
                    nextPair = (la, lb, xa, xb)
                }
              }
              if (nextPair == null) { i += 1; j = i + 1 }
            }
          }
          advance()
          override def hasNext: Boolean = nextPair != null
          override def next(): (Long, Long, Int, Int) = {
            val p = nextPair
            advance()
            p
          }
        }
      }).toDF("id_a", "id_b", "sz_a", "sz_b")
    // HOT shingles: the original pairwise self-join — its shuffle spills
    // gracefully where a buffered posting list would OOM.
    val pairs = if (!anyHot) cold else {
      val hot = postings.join(hotShingles, Seq("shingle"), "left_semi")
      val hotA = hot.select(col("shingle"), col("id").as("id_a"), col("sz").as("sz_a"))
      val hotB = hot.select(col("shingle"), col("id").as("id_b"), col("sz").as("sz_b"))
      val hotPairs = hotA.join(hotB, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .filter(sizeCompatible(threshold))
        .select("id_a", "id_b", "sz_a", "sz_b")
      // a pair's shingles split between branches still sum to the one
      // intersection count in the shared aggregate below
      cold.unionByName(hotPairs)
    }
    pairs
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Characters of each sampled document `ngramStrategyFor` reads: far
    * above a typical document (the bench corpora top out under 600), so
    * only outliers are cut. */
  private[operators] val StrategySampleChars = 4096

  /** Sampled mean shingle df at or below which [[ngramStrategyFor]] picks
    * the prefix path. */
  private val MeanDfCutoff = 3.0

  /** Statistics-based physical-strategy pick for the n-gram join — the
    * engine-side analog of Spark's size-statistics join selection: instead
    * of asking the caller to know their corpus's df regime, estimate it
    * from a bounded deterministic sample (the IVF-fit hash-range pattern:
    * same sample on every run, metadata-only count for parquet sources).
    *
    * Criterion: mean shingle document frequency in the sample,
    * |postings| / |distinct shingles|. A Zipfian corpus's distinct count
    * is dominated by its rare tail → mean df stays small (≲ 3) and prefix
    * filtering has rare shingles to index; a dense small-vocabulary corpus
    * (bench documents: mean df ≈ 17) has nothing rare and the count-join
    * wins (measured ~6×). Sample-df underestimates global df, which only
    * biases TOWARD "prefix" near the boundary — the safer side, since
    * prefix degrades gradually while count-join explodes on Σdf².
    *
    * Each sampled text is cut to its first `StrategySampleChars` characters
    * in the plan, so the collect is bounded in bytes as well as rows: at
    * most `sampleDocs` × 4 × `StrategySampleChars` bytes of UTF-8 text,
    * however long the documents are. */
  private[operators] def ngramStrategyFor(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, sampleDocs: Int = 2048): String = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      substring(col(textCol), 1, StrategySampleChars).as("text"))
    // the sample is bounded by construction (sampleDocs rows), so the df
    // statistics are computed DRIVER-SIDE over the collected rows — the
    // Ivf.fit/Pq.fit trainer pattern — instead of a cluster aggregation
    // whose two countDistincts expanded the sampled posting stream 3×
    // (measured ~0.5 s of the q57 leg for a 2048-doc sample). Same
    // HashSample plan + undershoot rule, so the sampled doc set — and the
    // decision — is identical to the aggregation form.
    val rows = HashSample.collectRows(base, "id", sampleDocs)
    var postings = 0L
    val distinct = new java.util.HashSet[String]()
    rows.foreach { r =>
      val t = r.getString(1)
      val sh = HashCore.shingleStrings(if (t == null) "" else t, shingleK)
      postings += sh.length
      sh.foreach(distinct.add)
    }
    if (distinct.isEmpty || postings.toDouble / distinct.size <= MeanDfCutoff)
      "prefix"
    else "count"
  }

  /** Exact n-gram Jaccard near-dup join — deterministic AND complete: every
    * pair with word-shingle Jaccard ≥ threshold is returned, none missed
    * (unlike minhashNearDups). Returns (id_a, id_b, jaccard), id_a < id_b.
    *
    * The join picks its physical path itself from a bounded sample of the
    * corpus ([[ngramStrategyFor]]): a sampled mean shingle df at or below
    * 3 (a Zipfian/web corpus, with rare shingles to index) takes the
    * prefix-filtered inverted index + exact verify; a denser vocabulary
    * takes the posting count-join, which routes hot shingles through a
    * spill-safe self-join on its own (see [[ngramNearDupsByCount]]). Both
    * paths return the same rows. No option picks the path, caps hot
    * shingles or sizes the sample: `threshold` and `shingleK` are the only
    * parameters. */
  def ngramNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleK: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    if (ngramStrategyFor(docs, idCol, textCol, shingleK) == "count")
      ngramNearDupsByCount(docs, idCol, textCol, threshold, shingleK)
    else ngramNearDupsByPrefix(docs, idCol, textCol, threshold, shingleK)
  }

  /** The prefix path of [[ngramNearDups]]: prefix-filtered candidates
    * ([[ngramCandidates]]) + exact Jaccard verify. */
  private[operators] def ngramNearDupsByPrefix(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3): DataFrame =
    verifyJaccard(docs, idCol, textCol,
      ngramCandidates(docs, idCol, textCol, threshold, shingleK),
      threshold, shingleK)

  // ---- SimHash -------------------------------------------------------------

  /** Hamming distance between two int64 simhashes (bit_count of xor). */
  private def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures: (id, sh) — the typed one-pass kernel
    * (HashCore.simhash) materialized as a table, exposed for the oracle. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, HashCore.simhash(text)) })
      .toDF("id", "sh")
  }

  /** Pigeonhole candidate pairs over simhash signatures, UNVERIFIED: split
    * 64 bits into (maxDist+1) chunks — any pair within distance maxDist
    * agrees exactly on ≥1 chunk, so chunk-equality buckets are a complete
    * candidate generator. Returns (id_a, id_b, sh_a, sh_b), id_a < id_b. */
  def simhashCandidates(sigs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 31, s"maxDist must be in [1,31], got $maxDist")
    val chunks = maxDist + 1
    val width = 64 / chunks
    // the LAST chunk absorbs the 64 % chunks remainder bits so every bit of
    // the hash participates in exactly one bucket key
    val chunkKeys = array((0 until chunks).map { c =>
      val lo = c * width
      val bits = if (c == chunks - 1) 64 - lo else width
      val mask = if (bits >= 64) -1L else (1L << bits) - 1
      shiftrightunsigned(col("sh"), lo).bitwiseAND(lit(mask))
    }: _*)
    val banded = sigs.select(col("id"), col("sh"),
      posexplode(chunkKeys).as(Seq("chunk", "key")))
    val a = banded.select(col("chunk"), col("key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("chunk"), col("key"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "sh_a", "sh_b")
  }

  /** SimHash near-dups with Hamming distance ≤ maxDist = pigeonhole
    * candidates + exact Hamming verify. Returns (id_a, id_b, dist). */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simhashCandidates(simhashSignatures(docs, idCol, textCol), maxDist)
      .withColumn("dist", hamming(col("sh_a"), col("sh_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")

  // ---- near-dup clusters + corpus dedup ---------------------------------------

  /** Connected components over a near-dup pair graph in O(log n) rounds via
    * alternating large-star / small-star edge rewriting (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm). Each round:
    *
    *  - large-star: every node points its LARGER neighbors at the minimum of
    *    its closed neighborhood — long chains fold toward their minimum in
    *    parallel, which is what one-hop label propagation cannot do;
    *  - small-star: every node points its smaller-or-equal neighbors (and
    *    itself) at that minimum — flattening the partial trees into stars.
    *
    * At the fixed point the edge set IS the component assignment: every edge
    * is (member, component-min). Adversarial template-drift chains (the
    * web-corpus case that defeats diameter-bound propagation) converge in
    * ~log₂(n) rounds instead of n; the loop still runs to a fixed point and
    * THROWS if it takes more than `MaxStarRounds` (silent non-convergence
    * would leave duplicate keepers). Each round shuffles only the PAIR set —
    * the corpus is never re-shuffled — and pins its edges, so a round does
    * not re-execute the rounds before it. A pair set of at most 2^20 rows
    * skips the loop for a union-find over the collected pairs, with the
    * same labels (see [[nearDupClustersWithRounds]]); no option picks the
    * path or the round budget.
    * Returns (id, cluster_id = min doc id of the component). */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    nearDupClustersWithRounds(pairs)._1

  /** Round budget of the star loop: at the spec-asserted 2·log₂(n) rounds
    * it covers a 2^25-node chain. */
  private val MaxStarRounds = 50

  /** Pair-count gate for the driver-local union-find finish of
    * [[nearDupClustersWithRounds]]: 2^20 pairs ≈ 16 MB collected — the same
    * budget class as a broadcast relation, far under the driver's
    * maxResultSize. Above the gate the distributed log-round loop runs
    * unchanged. */
  private[operators] val LocalSolveMaxPairs: Long = 1L << 20

  /** [[nearDupClusters]] plus the number of (large-star, small-star) rounds
    * it took to reach the fixed point — asserted logarithmic by spec.
    *
    * Small-graph fast path (`localSolveMaxPairs`): when the materialized
    * pair set is at most that many rows — ONE count over the already-
    * pinned input — the components are solved with a driver-side
    * union-find (min label per component) instead of the iterative
    * distributed loop, and `rounds` is reported as 0. Near-dup pair sets
    * are vanishingly small next to their corpus by construction (LSH emits
    * only banded collisions), so at bench scale the distributed loop was
    * pure scheduling overhead: 2.7 s of shuffles/checkpoints/fingerprint
    * aggregates for 5,312 edges, vs ~0.1 s collected. This is the standard
    * small-graph strategy of production CC implementations (e.g.
    * GraphFrames' connectedComponents broadcast-threshold finish); the
    * collect is BOUNDED BY THE GATE, and a pair set above the gate takes
    * the unchanged O(log n) large/small-star path — differential-locked
    * against it in OperatorsSpec. Pass 0 to force the distributed loop. */
  private[operators] def nearDupClustersWithRounds(
      pairs: DataFrame, maxRounds: Int = MaxStarRounds,
      localSolveMaxPairs: Long = LocalSolveMaxPairs): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // Pin the INPUT once and derive nodes + edges from it: two
    // independent pins here would each re-execute the whole
    // upstream pair-generation pipeline (for dedupCorpus that is the full
    // minhash band/verify chain — measured as the dominant cost of the
    // q49 leg, paid twice before the loop even started).
    val base = pin(pairs.select(col("id_a"), col("id_b")))
    if (localSolveMaxPairs > 0 && base.count() <= localSolveMaxPairs) {
      import spark.implicits._
      val rows = base.collect()
      // union-find with path halving; roots resolved to the component MIN
      // label afterwards, so the labeling is identical to the fixed point
      // of the star loop ((member, component-min) edges) and to one-hop
      // propagation — independent of union order.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != x) {
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      rows.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // every union attaches the larger root beneath the smaller, so each
      // component's root IS its minimum id — find() resolves the label
      val out = new Array[(Long, Long)](parent.size())
      val it1 = parent.keySet().iterator()
      var i = 0
      while (it1.hasNext) {
        val id = it1.next()
        out(i) = (id, find(id))
        i += 1
      }
      return (spark.createDataset(out.toIndexedSeq)
        .toDF("id", "cluster_id"), 0)
    }
    val nodes = pin(base.select(col("id_a").as("id"))
      .union(base.select(col("id_b").as("id")))
      .distinct())
    var edges = pin(base.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
      .dropDuplicates("u", "v"))
    // fixed-point detection: an order-insensitive fingerprint of the edge
    // SET (count + two independent hash XORs — edges are deduplicated, so
    // XOR over distinct hashes is sound, overflow-free under ANSI, and one
    // aggregate per round instead of an except() anti-shuffle). A collision
    // would only end the loop at a state that two 64-bit XORs AND the count
    // all agree on.
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v"))),
        bit_xor(xxhash64(col("v"), col("u"), lit(17)))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var fp = fingerprint(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for v > u
      val both = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMin = both.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      // NOT pinned: the small-star step below references it twice,
      // but both branches contain byte-identical exchange subplans, which
      // Spark executes once (ReusedExchange) — so one materialization per
      // ROUND (afterSmall's) is enough. At sf0.1 the extra pin
      // here was ~40% of the loop's wall time, pure scheduling overhead.
      val afterLarge = both.join(largeMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
      // small-star: orient (u > v); m = min neighbors; star them onto m
      val oriented = afterLarge.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .dropDuplicates("u", "v")
      val smallMin = oriented.groupBy("u").agg(min(col("v")).as("m"))
      edges = pin(oriented.join(smallMin, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smallMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v"))
      val fpNew = fingerprint(edges)
      converged = fpNew == fp
      fp = fpNew
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge within $maxRounds " +
          "large/small-star rounds")
    // fixed point: every edge is (member, component-min); centers label
    // themselves
    val labels = nodes
      .join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("cluster_id"))
    (labels, round)
  }

  /** End-to-end corpus dedup: exact groups collapse first (cheap), then
    * MinHash near-dup pairs cluster via connected components; one keeper
    * (min id) survives per cluster. Returns the deduplicated corpus. */
  def dedupCorpus(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    // exact is consumed TWICE (minhash input + final anti-join): without a
    // materialization the anti-join re-executes the exact-dedup groupBy of
    // the whole corpus. At 100 TB a production run writes this lifecycle
    // stage to a table anyway (REHEARSAL's extract->dedup flow does);
    // the pin is the single-job stand-in for that write.
    val exact = pin(exactDedup(docs, idCol, textCol))
    val pairs = minhashNearDups(exact, idCol, textCol, threshold = threshold)
    val clusters = nearDupClusters(pairs)
    val losers = clusters.filter(col("cluster_id") =!= col("id")).select(col("id"))
    exact.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  // ---- embedding cosine near-dup ---------------------------------------------

  /** Cosine similarity of two numeric-array columns: the native fused
    * Catalyst expression (one pass, zero allocation, codegen) with a cast
    * to array<double>. See graft.functions.CosineSimilarity; the composed
    * higher-order-function form it replaces is CosineSimilaritySpec's
    * differential reference. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Hyperplane-LSH candidate pairs for embedding near-dup, UNVERIFIED:
    * pairs share the exact sign signature or differ in at most ONE bit
    * (multi-probe radius 1 — recovers near-identical vectors that straddle
    * a single plane). Returns (id_a, id_b, v_a, v_b), id_a < id_b. */
  def embeddingCandidates(
      vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int = 12): DataFrame = {
    val planes = Similarity.hyperplanes(dim, nBits)
    val sigCol = Similarity.signSignature(col(vecCol), planes)
    val sig = vecs.select(col(idCol).as("id"), col(vecCol).as("v"), sigCol.as("sig"))
    val a = sig.select(col("sig"), col("id").as("id_a"), col("v").as("v_a"))
    // one side explodes its signature + all single-bit flips: an exact join
    // then matches every pair within Hamming distance 1 of the signatures
    val probeSigs = array(col("sig0") +:
      (0 until nBits).map(b => col("sig0").bitwiseXOR(lit(1L << b))): _*)
    val b = sig.withColumnRenamed("sig", "sig0")
      .select(col("id").as("id_b"), col("v").as("v_b"), explode(probeSigs).as("sig"))
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "v_a", "v_b")
  }

  /** Embedding near-dups above `threshold` cosine = hyperplane-LSH
    * candidates + exact cosine verify (native fused expression). */
  def embeddingNearDups(
      vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, nBits: Int = 12): DataFrame =
    embeddingCandidates(vecs, idCol, vecCol, dim, nBits)
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
}
