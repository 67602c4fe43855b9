package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SharedSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "7")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class TextStatsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c.as("v")).collect().head.get(0)

  test("token and subword counts") {
    assert(one("hello world  foo", TextStats.tokenCount(col("text"))) == 3)
    assert(one("don't stop-me 42x", TextStats.subwordCount(col("text"))) == 8)
  }

  test("language id picks the stopword-dominant language, 'und' fallback") {
    assert(one("the cat and the dog sat in the garden",
      TextStats.langIdCol(col("text"))) == "en")
    assert(one("el perro y la casa de los vecinos en madrid",
      TextStats.langIdCol(col("text"))) == "es")
    assert(one("der hund und die katze ist von mir",
      TextStats.langIdCol(col("text"))) == "de")
    assert(one("qwerty zxcvb asdfgh", TextStats.langIdCol(col("text"))) == "und")
  }

  test("quality score rewards clean prose, punishes symbol soup") {
    val prose = "a clean readable sentence with plenty of ordinary words in it"
    val soup = "@#$% ^&*( !!!! ???? ;;;; ~~~~ ]]]] [[[["
    val qp = one(prose, TextStats.qualityColumns(col("text")).last._2).asInstanceOf[Double]
    val qs = one(soup, TextStats.qualityColumns(col("text")).last._2).asInstanceOf[Double]
    assert(qp > 0.8)
    assert(qs < 0.2)
  }

  test("shingles: word 3-grams with short-doc fallback") {
    val sh = one("a b c d", TextStats.shinglesCol(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(sh == Seq("a b c", "b c d"))
    val short = one("a b", TextStats.shinglesCol(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(short == Seq("a b"))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val a = one("one two three four five", TextStats.fingerprintCol(col("text")))
    val b = one("one two three four five", TextStats.fingerprintCol(col("text")))
    val c = one("five four three two one", TextStats.fingerprintCol(col("text")))
    assert(a == b)
    assert(a != c)
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Small corpus + planted near-dups (every 25th token replaced → true
    * Jaccard of the planted pair ≈ 0.8). */
  private def corpus(n: Int): DataFrame = {
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    (0 until n).map { i =>
      val rng = new scala.util.Random(i)
      val toks = Vector.fill(60 + (i % 20))(words(rng.nextInt(words.length)))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }
  private def planted(docs: DataFrame): DataFrame = {
    val p = docs.select((col("doc_id") + 1000).as("doc_id"),
      concat_ws(" ", transform(split(col("text"), " "),
        (t, i) => when((i + 1) % 25 === 0, lit("zz")).otherwise(t))).as("text"))
    docs.union(p)
  }

  /** Driver-side exact Jaccard of word-3-gram shingle sets. */
  private def trueJaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.union(sb).isEmpty) 0.0 else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exact dedup groups identical texts under the min id") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 2)
    val dup = g.find(_.getAs[Long]("n_docs") == 2).get
    assert(dup.getAs[Long]("keeper_id") == 1L)
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 2)
  }

  test("minhash near-dups: high recall on planted pairs, exact-verified precision") {
    val docs = planted(corpus(40))
    val found = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // precision: every reported pair truly has J >= 0.6 (exact verification)
    found.foreach { case (a, b, j) =>
      val tj = trueJaccard(texts(a), texts(b))
      assert(math.abs(tj - j) < 1e-9, s"pair ($a,$b)")
      assert(tj >= 0.6)
    }
    // recall on planted pairs with true J >= 0.75 (banding odds ≥ 0.997)
    val planted75 = (0 until 40).filter { i =>
      trueJaccard(texts(i.toLong), texts(i + 1000L)) >= 0.75
    }
    val foundPairs = found.map(p => (p._1, p._2)).toSet
    val hit = planted75.count(i => foundPairs.contains((i.toLong, i + 1000L)))
    assert(planted75.nonEmpty)
    assert(hit.toDouble / planted75.size >= 0.9, s"$hit/${planted75.size}")
  }

  test("ngram prefix-filter join is exact-complete: equals all-pairs Jaccard") {
    val docs = planted(corpus(25))
    val t = 0.6
    val got = Dedup.ngramNearDups(docs, "doc_id", "text", threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val expect = (for {
      (a, ta) <- texts
      (b, tb) <- texts if a < b
      j = trueJaccard(ta, tb) if j >= t
    } yield (a, b, j)).sortBy(p => (p._1, p._2))
    // completeness AND precision: the prefix-filtered join returns exactly
    // the all-pairs result — no false negatives (the filter theorem), no
    // false positives (exact verify)
    assert(got.map(p => (p._1, p._2)).toSeq == expect.map(p => (p._1, p._2)).toSeq)
    assert(expect.nonEmpty)
    got.zip(expect).foreach { case (g, e) => assert(math.abs(g._3 - e._3) < 1e-9) }
    // the count-join physical strategy returns the identical logical result
    val gotCount = Dedup.ngramNearDups(docs, "doc_id", "text", threshold = t,
      strategy = "count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(gotCount.toSeq == got.toSeq)
  }

  test("count-join hot/cold df split: any hotDfCap returns identical rows") {
    // a pair's shingles split between the grouped-combination branch
    // (df <= cap) and the pairwise-join branch (df > cap) must still sum to
    // the one exact intersection count — sweep the cap from "everything
    // hot" through mixed to "everything cold" (the default)
    val docs = planted(corpus(20))
    val expect = Dedup.ngramNearDupsByCount(docs, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(expect.nonEmpty)
    for (cap <- Seq(1L, 3L, 20L)) {
      val got = Dedup.ngramNearDupsByCount(docs, "doc_id", "text", 0.6,
        hotDfCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      assert(got == expect, s"hotDfCap=$cap")
    }
    // a duplicated input id must not surface as a self-pair from either
    // branch (the grouped kernel normalizes (min, max) — without the
    // strict-inequality skip an equal-id pair would slip through where the
    // pairwise join filters id_a < id_b)
    val dup = docs.union(docs.limit(1))
    for (cap <- Seq(1L, Long.MaxValue)) {
      val self = Dedup.ngramNearDupsByCount(dup, "doc_id", "text", 0.6,
        hotDfCap = cap)
        .filter(col("id_a") === col("id_b")).count()
      assert(self == 0L, s"hotDfCap=$cap emitted self-pairs")
    }
  }

  test("IEEE boundary thresholds: J == t pairs survive both strategies") {
    // t=0.8, sizes (5,4), intersection 4 -> J = 4/5 = fl(0.8) exactly. The
    // naive floor((1-t)*sz)+1 prefix length lands an ulp short (prefix 1,
    // theorem needs 2) and silently dropped this pair.
    val w = (1 to 12).map(i => s"w$i")
    val docs8 = Seq((1L, w.take(7).mkString(" ")), (2L, w.slice(1, 7).mkString(" ")))
      .toDF("doc_id", "text")
    for (strategy <- Seq("prefix", "count")) {
      val got = Dedup.ngramNearDups(docs8, "doc_id", "text", threshold = 0.8,
        strategy = strategy).collect()
      assert(got.length == 1 && got(0).getDouble(2) == 0.8, s"t=0.8 $strategy")
    }
    // t=0.9, sizes (10,9), intersection 9 -> J = 9/10 = fl(0.9) exactly.
    // fl(0.9)*10 sits an ulp ABOVE 9, so the unguarded size filter
    // t*max <= min falsely rejected the pair in BOTH strategies.
    val docs9 = Seq((1L, w.mkString(" ")), (2L, w.drop(1).mkString(" ")))
      .toDF("doc_id", "text")
    for (strategy <- Seq("prefix", "count")) {
      val got = Dedup.ngramNearDups(docs9, "doc_id", "text", threshold = 0.9,
        strategy = strategy).collect()
      assert(got.length == 1 && got(0).getDouble(2) == 0.9, s"t=0.9 $strategy")
    }
  }

  test("ngramStrategyFor picks count on dense vocab, prefix on Zipfian-tailed") {
    // dense: 4-word vocabulary -> at most 64 possible 3-gram shingles, so
    // every shingle repeats across many docs (mean df >> 3, like the bench
    // documents corpus at mean df ~17)
    val denseWords = Vector("aa", "bb", "cc", "dd")
    val dense = (0 until 40).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, Vector.fill(60)(denseWords(rng.nextInt(4))).mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.ngramStrategyFor(dense, "doc_id", "text") == "count")
    // Zipfian-ish: each doc gets globally-unique words -> rare tail
    // dominates the distinct count, mean df ~ 1
    val unique = (0 until 40).map { i =>
      (i.toLong, (0 until 30).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.ngramStrategyFor(unique, "doc_id", "text") == "prefix")
    // SUBSAMPLING branch (total > sampleDocs): the hash-range threshold +
    // limit path must reach the same verdicts — a broken threshold or a
    // shrunken sample deflates df toward 1 and silently flips to prefix
    val denseBig = (0 until 1200).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, Vector.fill(60)(denseWords(rng.nextInt(4))).mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.ngramStrategyFor(denseBig, "doc_id", "text",
      sampleDocs = 128) == "count")
    val uniqueBig = (0 until 1200).map { i =>
      (i.toLong, (0 until 30).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.ngramStrategyFor(uniqueBig, "doc_id", "text",
      sampleDocs = 128) == "prefix")

    // the auto form returns the same rows as the explicit default strategy
    val base = planted(corpus(25))
    val auto = Dedup.ngramNearDupsAuto(base, "doc_id", "text",
      threshold = 0.6).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val explicit = Dedup.ngramNearDups(base, "doc_id", "text",
      threshold = 0.6).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(auto == explicit)
  }

  test("ngramStrategyFor collects at most StrategySampleChars of each document") {
    // 3 documents of ~5 MB of distinct hex words among 97 short ones on a
    // 4-word vocabulary: whole texts would ship several MB of task results,
    // even compressed, and their unique shingles would tip the sample to
    // "prefix"
    val n = 100
    val dense = array(Seq("aa", "bb", "cc", "dd").map(lit): _*)
    val docs = spark.range(n).select(col("id").as("doc_id"),
      when(col("id") < 3, concat_ws(" ", transform(sequence(lit(1), lit(150000)),
        x => md5(concat(col("id").cast("string"), lit("-"), x.cast("string"))))))
        .otherwise(concat_ws(" ", transform(sequence(lit(1), lit(60)),
          x => element_at(dense, (pmod(hash(col("id"), x), lit(4)) + 1).cast("int")))))
        .as("text"))
    var resultBytes = 0L
    val results = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) resultBytes += e.taskMetrics.resultSize
    }
    spark.sparkContext.addSparkListener(results)
    val strategy =
      try {
        val s = Dedup.ngramStrategyFor(docs, "doc_id", "text")
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        s
      } finally spark.sparkContext.removeSparkListener(results)
    // every document's share of the collect is within the cap (ASCII: one
    // byte a character), plus task-result overhead
    assert(resultBytes < n * Dedup.StrategySampleChars + (256L << 10),
      s"$resultBytes bytes of task results")
    assert(strategy == "count")
  }

  test("ngram join at threshold 1.0 finds exactly the identical-shingle-set pairs") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d x"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramNearDups(docs, "doc_id", "text", threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.ngramNearDups(docs, "doc_id", "text", threshold = 0.0)
    }
  }

  test("simhash near-dups recover planted pairs within the hamming budget") {
    val docs = planted(corpus(40))
    val found = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (0 until 40).count(i => found.contains((i.toLong, i + 1000L))) / 40.0
    assert(recall >= 0.8, s"recall $recall")
  }

  test("simhash hamming bound is exact on reported pairs") {
    val docs = planted(corpus(20))
    val rows = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 8).collect()
    rows.foreach(r => assert(r.getAs[Number]("dist").longValue <= 8))
  }

  test("ngram jaccard column equals driver-side computation") {
    val pairs = Seq(("a b c d e f", "a b c d e zz")).toDF("ta", "tb")
    val j = pairs.select(Dedup.ngramJaccard(col("ta"), col("tb")).as("j"))
      .collect().head.getDouble(0)
    assert(math.abs(j - trueJaccard("a b c d e f", "a b c d e zz")) < 1e-12)
  }

  test("connected components: a long chain converges") {
    // chain 15-14-13-...-1: one-hop propagation would need 14 hops
    val pairs = (1L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet == Set(1L))
  }

  test("connected components: 10^3-node adversarial chain in ~log2(n) rounds") {
    // the template-drift worst case: one 1000-node path. Diameter-bound
    // propagation needs 999 rounds; large-star/small-star must fold it
    // logarithmically. Worst ordering for min-propagation: ids descending.
    val n = 1000L
    val pairs = (1L until n).map(i => (n - i, n - i + 1)).toDF("id_a", "id_b")
    // localSolveMaxPairs = 0 pins the DISTRIBUTED star loop — the round
    // bound is this spec's whole point (the local fast path would trivially
    // report 0 rounds and assert nothing)
    val (labels, rounds) =
      Dedup.nearDupClustersWithRounds(pairs, maxRounds = 25, localSolveMaxPairs = 0)
    val cap = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt // = 20
    assert(rounds <= cap, s"took $rounds rounds, cap $cap")
    val clusters = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.length == n.toInt)
    assert(clusters.forall(_._2 == 1L))
  }

  test("connected components: local union-find == distributed loop on a random graph") {
    // the small-graph fast path (driver union-find) must label identically
    // to the distributed star loop — same seeded random graph, with self
    // loops and duplicate edges mixed in to exercise the edge-cleanup parity
    val rnd = new scala.util.Random(4062)
    val edges = Seq.fill(200)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val pairs = edges.toDF("id_a", "id_b")
    val (local, lr) = Dedup.nearDupClustersWithRounds(pairs)
    assert(lr == 0, s"expected the local fast path, got $lr rounds")
    val (dist, dr) =
      Dedup.nearDupClustersWithRounds(pairs, localSolveMaxPairs = 0)
    assert(dr > 0, s"expected the distributed loop, got $dr rounds")
    val lm = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dm = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm == dm)
  }

  test("connected components: log-round == one-hop baseline on a random graph") {
    // differential: both algorithms must produce identical labelings on a
    // seeded random graph with many components of varied shape
    val rnd = new scala.util.Random(2026)
    val edges = Seq.fill(120)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val fast = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = Dedup.nearDupClustersOneHop(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
  }

  test("minhash rejects bands that do not divide k (silent lane loss)") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDups(docs, "doc_id", "text", k = 60, bands = 16)
    }
  }

  test("simhash rejects maxDist outside [1,31]; remainder bits bucket correctly") {
    val docs = planted(corpus(10))
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 0)
    }
    // maxDist=2 -> 3 chunks of 21/21/22 bits: must run and respect the bound
    val rows = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 2).collect()
    rows.foreach(r => assert(r.getAs[Number]("dist").longValue <= 2))
  }

  test("connected components: chains collapse to the min id") {
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dedupCorpus: exact + near-dup clusters leave one keeper per cluster") {
    val base = corpus(20)
    val all = planted(base) // near-dups at +1000
      .union(base.filter(col("doc_id") === 0)
        .select((col("doc_id") + 5000).as("doc_id"), col("text"))) // exact dup of 0
    val deduped = Dedup.dedupCorpus(all, "doc_id", "text", threshold = 0.6)
    val kept = deduped.collect().map(_.getAs[Long]("doc_id")).toSet
    // exact dup of doc 0 must be gone
    assert(!kept.contains(5000L))
    // planted near-dups: the keeper is the original (min id)
    assert(kept.contains(0L))
    val survivors = kept.count(_ >= 1000L)
    // most planted copies are deduped away (banding recall < 1 tolerated)
    assert(survivors <= 4, s"too many planted survivors: $survivors")
  }

  test("embedding near-dups find planted perturbed vectors") {
    val vecs = (0 until 60).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val perturbed = vecs.select((col("vec_id") + 1000).as("vec_id"),
      transform(col("embedding"), x => x * 0.99f + 0.001f).as("embedding"))
    val all = vecs.union(perturbed)
    val found = Dedup.embeddingNearDups(all, "vec_id", "embedding",
      dim = 16, threshold = 0.98, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (0 until 60).count(i => found.contains((i.toLong, i + 1000L))) / 60.0
    assert(recall >= 0.7, s"recall $recall")
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def vecs(n: Int, dim: Int): DataFrame =
    (0 until n).map { i =>
      val rng = new scala.util.Random(i + 7)
      (i.toLong, Array.fill(dim)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")

  test("brute-force top-k matches a driver-side exact computation") {
    val corpus = vecs(100, 12)
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qv", 5).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1))) // (q, rank, id)

    val data = corpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (q <- 0L until 3L) {
      val expect = data.keys.filter(_ != q).toSeq
        .map(id => (id, cos(data(q), data(id))))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val actual = got.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
      assert(actual == expect, s"query $q")
    }
  }

  test("LSH top-k returns exact cosines and decent recall vs brute force") {
    val corpus = vecs(300, 12)
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qv", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qv", 10, dim = 12, nBits = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall") // approximate by design
    assert(lsh.size <= 50)
    // multi-table LSH: more independent tables strictly widen the candidate
    // union, so recall must not drop and should clearly improve
    val lsh4 = Similarity.lshTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qv", 10, dim = 12, nBits = 5, nTables = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall4 = (brute intersect lsh4).size.toDouble / brute.size
    assert(recall4 >= recall, s"recall1 $recall recall4 $recall4")
    assert(recall4 >= 0.6, s"recall4 $recall4")
  }
}

class SaltingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("salted count/sum equal the plain aggregates on a skewed key") {
    // one mega key (80% of rows) + a long tail
    val rows = (0 until 5000).map { i =>
      val key = if (i % 5 != 0) "mega" else s"k${i % 97}"
      (key, i.toLong, i * 0.5)
    }
    val df = rows.toDF("key", "fine", "value")
    val plainC = df.groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedC = Salting.saltedCount(df, col("key"), col("fine"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedC == plainC)
    val plainS = df.groupBy("key").agg(sum("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedS = Salting.saltedSum(df, col("key"), col("value"), col("fine"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    plainS.foreach { case (k, v) => assert(math.abs(saltedS(k) - v) < 1e-6) }
  }

  test("salted join equals plain join on a skewed fact key") {
    val fact = (0 until 2000).map(i => (if (i % 3 == 0) "hot" else s"k${i % 11}", i))
      .toDF("k", "fine")
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("dk", "label")
    val plain = fact.join(dim, fact("k") === dim("dk"))
      .groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salting.saltedJoin(fact, "k", col("fine"), dim, "dk")
      .groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }
}

class IvfSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def vecs(n: Int, dim: Int): DataFrame =
    (0 until n).map { i =>
      val rng = new scala.util.Random(i + 7)
      (i.toLong, Array.fill(dim)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")

  test("IVF fit is deterministic and assigns every vector to a cell") {
    val corpus = vecs(300, 12)
    val m1 = Ivf.fit(corpus, "vec_id", "embedding", k = 8)
    val m2 = Ivf.fit(corpus, "vec_id", "embedding", k = 8)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    val cells = corpus.select(Ivf.cellOf(col("embedding"), m1).as("c"))
      .groupBy("c").count().collect()
    assert(cells.map(_.getAs[Int]("c")).forall(c => c >= 0 && c < 8))
    assert(cells.map(_.getAs[Long]("count")).sum == 300)
  }

  test("IVF top-k: exact cosines, decent recall vs brute force") {
    val corpus = vecs(300, 12)
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qv", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = Ivf.fit(corpus, "vec_id", "embedding", k = 8)
    val ivf = Ivf.topK(corpus, "vec_id", "embedding",
      queries, "qid", "qv", 10, model, probes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall") // probes=4 of k=8 cells
    assert(ivf.size <= 50)
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("empty and null document texts synthesize valid media") {
    val docs = Seq((0L, ""), (1L, null.asInstanceOf[String]), (2L, "ok"))
      .toDF("doc_id", "text")
    val feats = Multimodal.decode(Multimodal.synthesizeMedia(docs, spark))
      .collect()
    assert(feats.length == 3)
    feats.foreach(f => assert(f.n_bytes >= 256))
  }

  test("binary plumbing: schema, determinism, batched decode") {
    val docs = Seq((0L, "alpha bravo"), (1L, "charlie delta"), (2L, "echo fox"))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeMedia(docs, spark)
    val feats1 = Multimodal.decode(media).collect().sortBy(_.doc_id)
    val feats2 = Multimodal.decode(Multimodal.synthesizeMedia(docs, spark))
      .collect().sortBy(_.doc_id)
    assert(feats1.toSeq == feats2.toSeq) // deterministic
    assert(feats1.map(_.kind).toSeq == Seq("image", "audio", "video"))
    feats1.foreach { f =>
      assert(f.n_bytes >= 256)
      assert(f.entropy > 0 && f.entropy <= 8.0)
      assert(f.head_histogram.size == 8)
    }
    // images (javax.imageio), WAV audio (javax.sound.sampled), and MJPEG
    // AVI video (MjpegAvi + javax.imageio per frame) ALL decode for real
    assert(feats1.find(_.kind == "image").get.decoded)
    assert(feats1.find(_.kind == "audio").get.decoded)
    assert(feats1.find(_.kind == "video").get.decoded)
    // frame sampling arithmetic: video with n frames samples ceil(n/stride)
    val video = feats1.find(_.kind == "video").get
    assert(video.frames_sampled >= 1)
    assert(video.width == 96 && video.height == 64) // from the AVI header
  }

  test("video rows: features come from DECODED MJPEG frames of a real AVI") {
    // 3 frames, stride 2 -> frames 0 and 2 decode (sampled = 2)
    val frames = (0 until 3).map(f => MjpegAvi.synthFrameJpeg(7L, f, 32, 16))
    val avi = MjpegAvi.encode(frames, 32, 16, fps = 4)
    val media = Seq(Multimodal.MediaRow(7L, "video", avi,
      Multimodal.MediaMeta("mjpeg-avi", 32, 16, 750L))).toDS()
    val f = Multimodal.decode(media, frameStride = 2).collect().head
    assert(f.decoded)
    assert(f.width == 32 && f.height == 16)
    assert(f.frames_sampled == 2)
    assert(f.entropy > 0.0)
    // a corrupt container falls back to the stub, never a task failure
    val bad = Seq(Multimodal.MediaRow(8L, "video",
      Array.tabulate(512)(_.toByte),
      Multimodal.MediaMeta("mjpeg-avi", 32, 16, 1L))).toDS()
    assert(!Multimodal.decode(bad).collect().head.decoded)
  }

  test("MjpegAvi container round-trip is lossless around the JPEG payloads") {
    val frames = (0 until 5).map(f => MjpegAvi.synthFrameJpeg(3L, f, 24, 24))
    val avi = MjpegAvi.encode(frames, 24, 24, fps = 5)
    val v = MjpegAvi.decode(avi).get
    assert(v.width == 24 && v.height == 24)
    assert(v.microSecPerFrame == 200000L)
    assert(v.frames.length == 5)
    for (i <- 0 until 5)
      assert(java.util.Arrays.equals(v.frames(i), frames(i)), s"frame $i")
    // every frame JPEG-decodes to the synthesized dimensions
    for (i <- 0 until 5) {
      val img = v.decodeFrame(i).get
      assert(img.getWidth == 24 && img.getHeight == 24)
    }
    // non-AVI RIFF (e.g. a WAV) and truncated AVIs decode to None
    assert(MjpegAvi.decode("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(MjpegAvi.decode(avi.take(40).toArray).isEmpty)
    // frames are stream 0 ONLY: relabel every '00dc' chunk as a second
    // stream's '01dc' -> no stream-0 frames -> None, not silent mixing
    val relabeled = avi.clone()
    var i = 0
    while (i + 3 < relabeled.length) {
      if (relabeled(i) == '0'.toByte && relabeled(i + 1) == '0'.toByte &&
        relabeled(i + 2) == 'd'.toByte && relabeled(i + 3) == 'c'.toByte)
        relabeled(i + 1) = '1'.toByte
      i += 1
    }
    assert(MjpegAvi.decode(relabeled).isEmpty)
  }

  test("audio rows: features come from DECODED samples of a real WAV") {
    // hand-built 4-sample mono 16-bit PCM WAV with known amplitudes
    val samples = Array[Short](0, 16384, 0, -16384)
    val pcm = new Array[Byte](8)
    for (i <- samples.indices) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 4L)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val media = Seq(Multimodal.MediaRow(1L, "audio", baos.toByteArray,
      Multimodal.MediaMeta("pcm-wav", 0, 0, 1L))).toDS()
    val f = Multimodal.decode(media).collect().head
    assert(f.decoded)
    // RMS of {0, 0.5, 0, -0.5} = sqrt(0.125)
    assert(math.abs(f.rms - math.sqrt(0.125)) < 1e-9)
    // corrupt WAV falls back to the stub, never a task failure
    val bad = Seq(Multimodal.MediaRow(2L, "audio", Array[Byte](82, 73, 70, 70, 0, 1),
      Multimodal.MediaMeta("pcm-wav", 0, 0, 1L))).toDS()
    val fb = Multimodal.decode(bad).collect().head
    assert(!fb.decoded)
  }

  test("image rows: features come from DECODED pixels of a real tiny PNG") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // 3×2 PNG: two known colors — white (luma 255) top row, black bottom
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 3) {
      img.setRGB(x, 0, 0xffffff)
      img.setRGB(x, 1, 0x000000)
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    val media = Seq(Multimodal.MediaRow(0L, "image", baos.toByteArray,
      Multimodal.MediaMeta("png", 3, 2, 0L))).toDS()
    val f = Multimodal.decode(media).collect().head
    assert(f.decoded)
    assert(f.width == 3 && f.height == 2)
    // luma histogram head bucket: 3 black pixels at luma 0
    assert(f.head_histogram.head == 3L)
    // two equiprobable luma values → exactly 1 bit of entropy
    assert(math.abs(f.entropy - 1.0) < 1e-12)
  }

  test("synthesized image blobs are real PNGs (decode round-trips size)") {
    val docs = Seq((0L, "img doc"), (3L, "img doc two")).toDF("doc_id", "text")
    val feats = Multimodal.decode(Multimodal.synthesizeMedia(docs, spark))
      .collect().sortBy(_.doc_id)
    assert(feats.forall(_.kind == "image"))
    assert(feats.forall(_.decoded))
    assert(feats.map(f => (f.width, f.height)).toSeq == Seq((64, 64), (67, 64)))
  }

  test("resize: aspect-preserving thumbnails, deterministic pixels, a/v dropped") {
    val docs = Seq((0L, "img"), (1L, "aud"), (3L, "img2")).toDF("doc_id", "text")
    val media = Multimodal.synthesizeMedia(docs, spark)
    val thumbs = Multimodal.resizeImages(media, 16, 16).collect().sortBy(_.doc_id)
    assert(thumbs.map(_.doc_id).toSeq == Seq(0L, 3L)) // audio row dropped
    // 64x64 -> 16x16; 67x64 -> fit within 16 preserving aspect (15x14... check)
    val t0 = thumbs(0)
    assert((t0.width, t0.height) == (16, 16))
    val t3 = thumbs(1)
    assert(t3.width <= 16 && t3.height <= 16 && t3.width >= t3.height)
    // determinism: identical bytes across runs
    val again = Multimodal.resizeImages(
      Multimodal.synthesizeMedia(docs, spark), 16, 16).collect().sortBy(_.doc_id)
    assert(again(0).png.toSeq == t0.png.toSeq)
    // the thumbnail decodes back to its own dimensions
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(t0.png))
    assert(back.getWidth == 16 && back.getHeight == 16)
    // nearest-neighbor spot check: thumb(0,0) == source(0,0)
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      media.collect().find(_.doc_id == 0L).get.media))
    assert((back.getRGB(0, 0) & 0xffffff) == (src.getRGB(0, 0) & 0xffffff))
  }
}
