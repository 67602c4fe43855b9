package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bpe vs an independent driver-side reference implementation (recursive
  * list rewriting, deliberately shaped nothing like the engine's in-place
  * array kernel), plus training-semantics pins. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // reference applier: one greedy left-to-right pass per merge, in rank
  // order — functional list recursion
  private def onePass(syms: List[String], a: String, b: String): List[String] =
    syms match {
      case x :: y :: rest if x == a && y == b => (a + b) :: onePass(rest, a, b)
      case x :: rest => x :: onePass(rest, a, b)
      case Nil => Nil
    }

  private def refWordTokens(w: String, merges: Seq[(String, String)]): Int = {
    val chars = w.codePoints().toArray.toList.map(Character.toString)
    merges.foldLeft(chars) { case (s, (a, b)) => onePass(s, a, b) }.length
  }

  private def refTextTokens(t: String, merges: Seq[(String, String)]): Long =
    t.split("\\s+").filter(_.nonEmpty).map(refWordTokens(_, merges).toLong).sum

  test("training learns the planted most-frequent pair first, deterministically") {
    val counts = Seq(("abab", 10L), ("ab", 5L), ("cd", 3L))
    val merges = Bpe.trainFromCountsIncremental(counts, nMerges = 3)._1
    // (a,b) dominates (25 occurrences); then (ab,ab) in the 10 "abab"s;
    // then (c,d) with 3
    assert(merges.map(m => (m.lhs, m.rhs)) ==
      Seq(("a", "b"), ("ab", "ab"), ("c", "d")))
    assert(merges.map(_.merge_rank) == Seq(0L, 1L, 2L))
    // deterministic: retraining is bit-identical
    assert(Bpe.trainFromCountsIncremental(counts, 3)._1 == merges)
  }

  test("training stops when no pair occurs twice; ties break lexicographically") {
    // every pair occurs exactly once -> nothing to learn
    assert(Bpe.trainFromCountsIncremental(Seq(("abcd", 1L)), 10)._1.isEmpty)
    // (x,y) and (p,q) both occur twice -> smallest (lhs, rhs) wins first
    val m = Bpe.trainFromCountsIncremental(Seq(("xy", 2L), ("pq", 2L)), 1)._1
    assert(m.map(x => (x.lhs, x.rhs)) == Seq(("p", "q")))
  }

  test("encoder == reference applier on randomized corpora and merge tables") {
    val rnd = new scala.util.Random(64)
    for (trial <- 0 until 20) {
      val alphabet = "abc"
      var symbols = alphabet.map(_.toString).toVector
      val merges = (0 until 10).flatMap { r =>
        val a = symbols(rnd.nextInt(symbols.length))
        val b = symbols(rnd.nextInt(symbols.length))
        symbols :+= (a + b)
        Some((a, b))
      }.distinct
      val table = merges.zipWithIndex.map { case ((a, b), r) =>
        Bpe.Merge(r.toLong, a, b)
      }.toIndexedSeq
      val enc = new Bpe.Encoder(table)
      for (_ <- 0 until 40) {
        val word = Seq.fill(rnd.nextInt(14))(
          alphabet(rnd.nextInt(3)).toString).mkString
        assert(enc.wordTokens(word) == refWordTokens(word, merges),
          s"trial $trial word '$word'")
      }
    }
  }

  test("distributed tokenCounts == reference on a trained table (end to end)") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val docs = (0L until 120L).map { i =>
      val text = Seq.fill(rnd.nextInt(30))(
        Seq.fill(1 + rnd.nextInt(8))("abcde" (rnd.nextInt(5))).mkString).mkString(" ")
      (i, text)
    }
    val df = docs.toDF("doc_id", "text").repartition(7)
    val merges = Bpe.train(df, "doc_id", col("text"), nMerges = 40)
    assert(merges.nonEmpty)
    val enc = new Bpe.Encoder(merges)
    val got = Bpe.tokenCounts(df, "doc_id", col("text"), enc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = merges.map(m => (m.lhs, m.rhs))
    val exp = docs.map { case (i, t) => i -> refTextTokens(t, pairs) }.toMap
    assert(got == exp)
    // merging strictly reduces or preserves counts vs character count
    val charCounts = docs.map { case (i, t) =>
      i -> t.split("\\s+").filter(_.nonEmpty).map(_.length.toLong).sum
    }.toMap
    docs.foreach { case (i, _) => assert(got(i) <= charCounts(i)) }
  }

  test("tokenize emits the reference subword sequences; counts agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val docs = (0L until 60L).map { i =>
      val text = Seq.fill(rnd.nextInt(20))(
        Seq.fill(1 + rnd.nextInt(7))("abcd" (rnd.nextInt(4))).mkString).mkString(" ")
      (i, text)
    }
    val df = docs.toDF("doc_id", "text").repartition(5)
    val merges = Bpe.train(df, "doc_id", col("text"), nMerges = 25)
    val enc = new Bpe.Encoder(merges)
    val got = Bpe.tokenize(df, "doc_id", col("text"), enc)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = merges.map(m => (m.lhs, m.rhs))
    docs.foreach { case (i, t) =>
      val exp = t.split("\\s+").filter(_.nonEmpty)
        .flatMap { w =>
          val chars = w.codePoints().toArray.toList.map(Character.toString)
          pairs.foldLeft(chars) { case (s, (a, b)) => onePass(s, a, b) }
        }.mkString("§")
      assert(got(i) == exp, s"doc $i")
      // token-count parity with tokenCounts' semantics
      val nToks = if (got(i).isEmpty) 0 else got(i).split("§", -1).length
      assert(nToks == refTextTokens(t, pairs), s"doc $i count")
    }
  }

  test("unicode: symbols are code points (astral chars count as one)") {
    val enc = new Bpe.Encoder(IndexedSeq.empty)
    assert(enc.wordTokens("héllo") == 5)
    assert(enc.wordTokens("a😀b") == 3) // emoji = ONE symbol
    val learned = Bpe.trainFromCountsIncremental(Seq(("😀😀", 5L)), 1)._1
    assert(learned.head.lhs == "😀" && learned.head.rhs == "😀")
  }

  // ---- incremental trainer (round-5): differential vs naive + the
  // ---- production-vocabulary demo ------------------------------------

  /** Deterministic rich-vocab corpus: syllable-composed words with Zipfian
    * counts — enough shared substructure that thousands of count>=2 merges
    * exist (the synthetic documents table has only 31 distinct words, so
    * the production-scale trainer demo needs its own corpus). */
  private def synthCorpus(nWords: Int, zipfN: Long): Seq[(String, Long)] = {
    val syll = Vector("ka", "ro", "mi", "ta", "shu", "en", "lo", "pre",
      "ver", "un", "ci", "ba", "do", "ne", "gra", "pos", "ti", "al", "mer",
      "su", "fi", "ler", "om", "ex", "qu", "an", "ke", "ur", "vo", "ze",
      "ist", "ach", "ond", "ria", "pla", "tum", "sco", "bel", "dra", "wix")
    (0 until nWords).map { i =>
      var h = (i * 2654435761L) ^ 0x9e3779b97f4a7c15L
      def next(n: Int): Int = { h = h * 6364136223846793005L + 1442695040888963407L; (((h >>> 33) % n).toInt + n) % n }
      val k = 2 + next(4) // 2..5 syllables
      val w = (0 until k).map(_ => syll(next(syll.length))).mkString
      (w, math.max(1L, zipfN / (i + 1)))
    }.distinct
  }

  /** The NAIVE O(nMerges × Σ|word|) recount trainer: every round
    * re-tallies EVERY adjacent position of every word into a fresh map, so
    * updates ≈ nMerges × (total adjacent positions). Same selection rule as
    * `Bpe.trainFromCountsIncremental`, so the two are bit-identical — the
    * differential baseline for it. */
  private def trainFromCountsNaive(wordCounts: Seq[(String, Long)],
      nMerges: Int): (IndexedSeq[Bpe.Merge], Bpe.TrainStats) = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val words = wordCounts.iterator
      .filter(_._1.nonEmpty)
      .map { case (wd, c) => (Bpe.symbols(wd), c) }
      .toArray
    val out = IndexedSeq.newBuilder[Bpe.Merge]
    var rank = 0L
    var updates = 0L
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- words) {
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          updates += 1
          i += 1
        }
      }
      var best: (String, String) = null
      var bestC = 1L // demand count >= 2
      for ((k, c) <- pairCounts) {
        if (c > bestC || (c == bestC && best != null &&
            (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2)))) {
          best = k
          bestC = c
        }
      }
      if (best == null) exhausted = true
      else {
        for ((syms, _) <- words) Bpe.applyMerge(syms, best._1, best._2)
        out += Bpe.Merge(rank, best._1, best._2)
        rank += 1
      }
    }
    (out.result(), Bpe.TrainStats(rank.toInt, updates))
  }

  test("incremental trainer is bit-identical to naive on randomized corpora") {
    val rnd = new scala.util.Random(1905)
    for (trial <- 0 until 15) {
      val alpha = "abcde".take(2 + rnd.nextInt(4))
      val corpus = (0 until 30 + rnd.nextInt(120)).map { _ =>
        val w = Seq.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length))).mkString
        (w, 1L + rnd.nextInt(20).toLong)
      }
      val n = rnd.nextInt(60)
      val (naive, _) = trainFromCountsNaive(corpus, n)
      val (inc, _) = Bpe.trainFromCountsIncremental(corpus, n)
      assert(inc == naive, s"trial $trial nMerges=$n")
    }
  }

  test("incremental trainer: nMerges=2000, bit-identical, >=50x fewer " +
    "pair-count updates than the naive recount (timed)") {
    val corpus = synthCorpus(nWords = 4000, zipfN = 100000L)
    val t0 = System.nanoTime()
    val (inc, sInc) = Bpe.trainFromCountsIncremental(corpus, 2000)
    val tInc = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (naive, sNaive) = trainFromCountsNaive(corpus, 2000)
    val tNaive = (System.nanoTime() - t1) / 1e9
    assert(inc == naive, "merge tables diverged")
    assert(inc.length == 2000,
      s"corpus too poor: only ${inc.length} count>=2 merges reachable")
    val ratio = sNaive.pairUpdates.toDouble / sInc.pairUpdates
    info(f"updates: naive=${sNaive.pairUpdates}%,d incremental=" +
      f"${sInc.pairUpdates}%,d ratio=$ratio%.1fx; wall: naive=$tNaive%.2fs " +
      f"incremental=$tInc%.2fs")
    assert(ratio >= 50.0, f"update ratio $ratio%.1f < 50x")
  }

  test("vocab: dense lexicographic ids, bounded by the model; tokenizeIds " +
    "round-trips through it and flags OOV as unkId") {
    import spark.implicits._
    val docs = Seq((1L, "abab ab cd"), (2L, "cd cd"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val merges = Bpe.trainFromCountsIncremental(
      Seq(("abab", 10L), ("ab", 5L), ("cd", 3L)), 3)._1
    val enc = new Bpe.Encoder(merges)
    val v = Bpe.vocab(docs, "doc_id", col("text"), enc)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // emitted tokens: abab (1), ab, cd — ids dense by lexicographic order
    assert(v == Map("ab" -> 0L, "abab" -> 1L, "cd" -> 2L))
    val got = Bpe.tokenizeIds(docs, "doc_id", col("text"), enc, v)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "1,0,2", 2L -> "2,2", 3L -> "", 4L -> ""))
    // determinism across partitionings
    val v2 = Bpe.vocab(docs.repartition(7), "doc_id", col("text"), enc)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2 == v)
    // OOV (vocab built elsewhere) maps to unkId, never drops silently
    val other = Seq((9L, "zz ab")).toDF("doc_id", "text")
    val oov = Bpe.tokenizeIds(other, "doc_id", col("text"), enc, v)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(oov == Map(9L -> "-1,-1,0")) // z, z, ab
  }

  test("tokenize rejects words containing the separator instead of " +
    "emitting ambiguous output") {
    import spark.implicits._
    val df = Seq((1L, "ok a§b")).toDF("doc_id", "text")
    val enc = new Bpe.Encoder(IndexedSeq.empty)
    val ex = intercept[org.apache.spark.SparkException] {
      Bpe.tokenize(df, "doc_id", col("text"), enc).collect()
    }
    assert(ex.getMessage.contains("separator") ||
      Option(ex.getCause).exists(_.getMessage.contains("separator")))
  }

  test("empty/null/whitespace texts count zero tokens") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]),
      (4L, "ab")).toDF("doc_id", "text")
    val enc = new Bpe.Encoder(IndexedSeq(Bpe.Merge(0L, "a", "b")))
    val got = Bpe.tokenCounts(df, "doc_id", col("text"), enc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
  }
}
