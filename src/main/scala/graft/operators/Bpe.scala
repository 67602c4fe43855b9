package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer — the real merge-table algorithm
  * (Gage, "A New Algorithm for Data Compression", 1994; Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL 2016 —
  * both public), replacing the `TextStats.subwordCount` heuristic for
  * anything that budgets by tokens (q30-style stats, q59-style packing:
  * pass `Bpe.tokenCounts` output as the packing `tokensCol`).
  *
  * Split of labor, 100 TB shape:
  *  - TRAINING is driver-side over a BOUNDED corpus: word counts from a
  *    deterministic hash-range sample of documents (HashSample — the shared
  *    sampler behind Ivf.fit), capped to the `maxVocab` most frequent
  *    words. The merge loop never sees row-scaled data; the resulting
  *    table is a few hundred tiny rows, broadcast to every executor.
  *  - APPLICATION is distributed and embarrassingly parallel: a
  *    mapPartitions kernel with a per-partition word→count memo (corpus
  *    words repeat heavily, so the merge fold runs once per DISTINCT word
  *    per partition and is a hash lookup after that).
  *
  * Application semantics (pinned, and what the DuckDB oracle replays):
  * merges apply in rank order, ONE greedy left-to-right non-overlapping
  * pass each — `aaaa` + (a,a) → `aa aa` in a single pass. This matches a
  * fold of non-overlapping string `replace` over the ranked merges, which
  * is exactly how the q64 oracle recomputes counts from the materialized
  * merge table. (The canonical priority-queue applier can differ only when
  * a later merge re-creates a symbol an EARLIER merge consumes — symbol
  * aliasing, impossible for merge tables this trainer emits over sampled
  * text; the sequential semantics is deterministic either way.)
  *
  * Symbols are Unicode code points (so counts agree with DuckDB's
  * character-based string functions); words are whitespace-delimited and
  * merges never cross word boundaries. No end-of-word marker — a merge
  * learned mid-word applies at word end too, documented and mirrored in
  * training, application, and oracle alike.
  */
object Bpe {

  /** One learned merge: at `merge_rank`, adjacent symbols (lhs, rhs) fuse
    * into lhs+rhs. Field names double as the materialized table schema. */
  final case class Merge(merge_rank: Long, lhs: String, rhs: String)

  /** Split into single-code-point symbols (surrogate pairs stay whole). */
  private[operators] def symbols(w: String): mutable.ArrayBuffer[String] = {
    val out = new mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out
  }

  /** One greedy left-to-right non-overlapping pass of (a,b)→ab, in place. */
  private[operators] def applyMerge(syms: mutable.ArrayBuffer[String],
      a: String, b: String): Unit = {
    var r = 0
    var w = 0
    while (r < syms.length) {
      if (r + 1 < syms.length && syms(r) == a && syms(r + 1) == b) {
        syms(w) = a + b
        r += 2
      } else {
        syms(w) = syms(r)
        r += 1
      }
      w += 1
    }
    if (w < syms.length) syms.remove(w, syms.length - w)
  }

  /** Trainer instrumentation: `rounds` = merges actually learned,
    * `pairUpdates` = mutations applied to the pair-count structure (the
    * work unit this trainer and BpeSpec's naive recount share, so the
    * ratio is apples-to-apples). */
  final case class TrainStats(rounds: Int, pairUpdates: Long)

  /** Learn `nMerges` merges from (word, count) pairs, driver-side.
    * Selection rule: most frequent adjacent symbol pair, weighted by word
    * count; ties broken to the lexicographically smallest (lhs, rhs); stop
    * early when no pair occurs at least twice (merging a count-1 pair is
    * pure vocab noise).
    *
    * INCREMENTAL pair-count trainer — the classic heap-based BPE trainer
    * (maintained pair counts + candidate index, public knowledge; the
    * structure every production subword trainer uses, cf. Sennrich et al.
    * 2016's released `learn_bpe` and SentencePiece's BPE trainer):
    *
    *  - `pairCounts` is built ONCE (O(Σ|word|)), then maintained by
    *    deltas: merging (a,b) only changes pairs adjacent to an (a,b)
    *    occurrence, so each round touches only the words that contain the
    *    winning pair, not the whole vocabulary.
    *  - `pairWords` maps each pair to the EXACT set of word ids currently
    *    containing it (membership updated with the same deltas), so a
    *    round's rewrite loop is O(Σ|affected word|), not O(Σ|word|).
    *  - `queue` is an ordered set over (count desc, lhs asc, rhs asc),
    *    kept in lockstep with `pairCounts` (remove old entry / insert new
    *    on every delta), so selection is O(log P) and uses the SAME
    *    max-count-then-lexicographic rule as a naive recount would.
    *
    * Complexity: O(Σ|word| + Σ_merges |affected words| × log P) total vs
    * the naive trainer's O(nMerges × Σ|word|). For Zipfian corpora the
    * affected set shrinks rapidly with rank, so a 2k–100k-merge vocabulary
    * is minutes-of-driver-time, not hours (see BpeSpec's measured ratio:
    * the update ledger is ≥50× smaller than naive at nMerges=2000).
    * Returns bit-identical merges to the naive recount trainer
    * (BpeSpec's `trainFromCountsNaive`, asserted differentially there). */
  def trainFromCountsIncremental(wordCounts: Seq[(String, Long)],
      nMerges: Int): (IndexedSeq[Merge], TrainStats) = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val wordsB = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
    val wcB = mutable.ArrayBuffer.empty[Long]
    for ((wd, c) <- wordCounts if wd.nonEmpty) {
      wordsB += symbols(wd)
      wcB += c
    }
    val words = wordsB.toArray
    val wc = wcB.toArray
    var updates = 0L

    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // Ordered by count DESC, then (lhs, rhs) ASC — head == naive's argmax.
    val queueOrd = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(y._1, x._1)
        if (c != 0) return c
        val l = x._2.compareTo(y._2)
        if (l != 0) l else x._3.compareTo(y._3)
      }
    }
    val queue = mutable.TreeSet.empty[(Long, String, String)](queueOrd)

    var w = 0
    while (w < words.length) {
      val syms = words(w)
      val c = wc(w)
      var i = 0
      while (i + 1 < syms.length) {
        val k = (syms(i), syms(i + 1))
        pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
        pairWords.getOrElseUpdate(k, mutable.BitSet.empty) += w
        updates += 1
        i += 1
      }
      w += 1
    }
    for ((k, c) <- pairCounts) queue += ((c, k._1, k._2))

    /** Weighted local pair tally of one word (for before/after deltas). */
    def localPairs(syms: mutable.ArrayBuffer[String])
        : mutable.HashMap[(String, String), Long] = {
      val m = mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i + 1 < syms.length) {
        val k = (syms(i), syms(i + 1))
        m.update(k, m.getOrElse(k, 0L) + 1L)
        i += 1
      }
      m
    }

    val out = IndexedSeq.newBuilder[Merge]
    var rank = 0L
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      if (queue.isEmpty || queue.head._1 < 2L) exhausted = true
      else {
        val (_, a, b) = queue.head
        val key = (a, b)
        val affected = pairWords.getOrElse(key, mutable.BitSet.empty).toArray
        val delta = mutable.HashMap.empty[(String, String), Long]
        for (idx <- affected) {
          val syms = words(idx)
          val c = wc(idx)
          val before = localPairs(syms)
          applyMerge(syms, a, b)
          val after = localPairs(syms)
          for (k <- before.keysIterator ++
              after.keysIterator.filterNot(before.contains)) {
            val d = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
            if (d != 0L) delta.update(k, delta.getOrElse(k, 0L) + d * c)
            // Exact membership: the pair is in this word iff it survives.
            if (after.getOrElse(k, 0L) == 0L)
              pairWords.get(k).foreach(_ -= idx)
            else pairWords.getOrElseUpdate(k, mutable.BitSet.empty) += idx
          }
        }
        for ((k, d) <- delta if d != 0L) {
          val old = pairCounts.getOrElse(k, 0L)
          val now = old + d
          if (old > 0L) queue -= ((old, k._1, k._2))
          if (now > 0L) {
            pairCounts.update(k, now)
            queue += ((now, k._1, k._2))
          } else {
            pairCounts.remove(k)
            pairWords.remove(k)
          }
          updates += 1
        }
        out += Merge(rank, a, b)
        rank += 1
      }
    }
    (out.result(), TrainStats(rank.toInt, updates))
  }

  /** Distributed training: deterministic hash-range sample of `sampleDocs`
    * documents, word counts aggregated in Spark, top `maxVocab` words
    * collected (bounded by construction), merges learned driver-side. */
  def train(docs: DataFrame, idCol: String, textCol: Column, nMerges: Int,
      sampleDocs: Int = 2048, maxVocab: Int = 32768): IndexedSeq[Merge] = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      textCol.cast("string").as("t"))
    val total = base.count()
    val plan = HashSample.plan(base, "id", sampleDocs, total)
    val got = plan.sampled.count()
    val chosen =
      if (plan.undershot(got, sampleDocs, total)) plan.fallback
      else plan.sampled
    val wc = chosen
      .select(explode(split(col("t"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainFromCountsIncremental(wc.toSeq, nMerges)._1
  }

  /** Serializable applier: merges in rank order, one greedy pass each. */
  final class Encoder(val merges: IndexedSeq[Merge]) extends Serializable {
    private val ranked: Array[Merge] = merges.sortBy(_.merge_rank).toArray

    /** The ONE merge fold both count and sequence derive from — a fix
      * applied here (e.g. the length>1 early exit) cannot diverge them. */
    private def foldMerges(w: String): mutable.ArrayBuffer[String] = {
      val syms = symbols(w)
      var i = 0
      while (i < ranked.length && syms.length > 1) {
        applyMerge(syms, ranked(i).lhs, ranked(i).rhs)
        i += 1
      }
      syms
    }

    /** Token count of one whitespace-free word. */
    def wordTokens(w: String): Int =
      if (w.isEmpty) 0 else foldMerges(w).length

    /** The actual subword sequence of one word (same fold as
      * [[wordTokens]], returning the symbols instead of their count). */
    def wordSubwords(w: String): Array[String] =
      if (w.isEmpty) Array.empty else foldMerges(w).toArray
  }

  /** Per-document SUBWORD SEQUENCES, distributed: the actual tokens (not
    * just counts — what a training-data emitter feeds a model), joined by
    * `sep`, word order preserved, merges never crossing word boundaries.
    * Same broadcast-encoder + per-partition memo shape as [[tokenCounts]];
    * the memo holds each distinct word's joined token string. `sep` must
    * not occur inside any token (i.e. in the trained text) — the caller
    * strips it, exactly like the oracle separators. Output:
    * (doc_id, tokens_str). */
  def tokenize(docs: DataFrame, idCol: String, textCol: Column,
      enc: Encoder, sep: String = "§"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(enc)
    docs.select(col(idCol).cast("long").as("doc_id"),
        textCol.cast("string").as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val e = bc.value
        val memo = new java.util.HashMap[String, String](1 << 12)
        it.map { case (id, t) =>
          val sb = new java.lang.StringBuilder
          if (t != null) {
            val words = t.split("\\s+")
            var i = 0
            while (i < words.length) {
              val w = words(i)
              if (w.nonEmpty) {
                var toks = memo.get(w)
                if (toks == null) {
                  if (memo.size >= (1 << 20)) memo.clear()
                  // Enforce the sep contract here rather than trusting the
                  // caller: a word containing `sep` would emit an output
                  // string indistinguishable from extra token boundaries —
                  // undetectably wrong downstream, so fail loudly instead.
                  if (w.contains(sep)) throw new IllegalArgumentException(
                    s"Bpe.tokenize: input word '$w' contains the token " +
                      s"separator '$sep'; strip or remap it before tokenizing")
                  toks = String.join(sep, e.wordSubwords(w): _*)
                  memo.put(w, toks)
                }
                if (sb.length > 0) sb.append(sep)
                sb.append(toks)
              }
              i += 1
            }
          }
          (id, sb.toString)
        }
      }
      .toDF("doc_id", "tokens_str")
  }

  /** Deterministic token-id vocabulary over a corpus: every distinct
    * subword the encoder emits, id-assigned by lexicographic token order.
    * BOUNDED BY THE MODEL, not the corpus: an emitted token is either one
    * of the ≤ nMerges merged symbols or an unmerged single code point, so
    * |vocab| ≤ nMerges + |distinct code points in the corpus| — a
    * dimension table, safe to broadcast or collect.
    *
    * Id assignment uses sortBy + zipWithIndex (the one total-order
    * assignment Spark offers without a global window — PlanSpec forbids
    * those; the sort is over the vocab-sized distinct set, not rows).
    * Output: (token, token_id), ids dense from 0. */
  def vocab(docs: DataFrame, idCol: String, textCol: Column, enc: Encoder,
      sep: String = "§"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    tokenize(docs, idCol, textCol, enc, sep)
      .select(explode(split(col("tokens_str"),
        java.util.regex.Pattern.quote(sep))).as("token"))
      .filter(length(col("token")) > 0) // empty docs emit an empty string
      .distinct()
      .as[String].rdd.sortBy(identity).zipWithIndex()
      .toDF("token", "token_id")
  }

  /** Collect a [[vocab]] dimension into the broadcastable map
    * [[tokenizeIds]] consumes (bounded by the model — see [[vocab]]). */
  def vocabMap(vocab: DataFrame): Map[String, Long] =
    vocab.select(col("token"), col("token_id").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Token-ID sequences — what a tokenized training-data sink actually
    * writes: (doc_id, ids_str) with ids comma-joined in token order (ids
    * are numeric, so ',' is unambiguous no matter what the text held).
    * `vocabMap` is the broadcastable (token → id) dimension from [[vocab]];
    * a token absent from it maps to `unkId` (impossible when the vocab was
    * built over the same corpus and encoder — documented, not silent:
    * choose a negative unkId so downstream filters can find them). */
  def tokenizeIds(docs: DataFrame, idCol: String, textCol: Column,
      enc: Encoder, vocabMap: Map[String, Long], sep: String = "§",
      unkId: Long = -1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocabMap)
    tokenize(docs, idCol, textCol, enc, sep)
      .as[(Long, String)]
      .mapPartitions { it =>
        val m = bc.value
        // compiled once per partition: String.split's no-compile fast path
        // doesn't apply to Pattern.quote's \Q..\E form
        val p = java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(sep))
        it.map { case (id, ts) =>
          if (ts.isEmpty) (id, "")
          else {
            val sb = new java.lang.StringBuilder
            val toks = p.split(ts, -1)
            var i = 0
            while (i < toks.length) {
              if (sb.length > 0) sb.append(',')
              sb.append(m.getOrElse(toks(i), unkId))
              i += 1
            }
            (id, sb.toString)
          }
        }
      }
      .toDF("doc_id", "ids_str")
  }

  /** Per-document token counts, distributed: broadcast encoder + a
    * per-partition word memo capped at 2^20 entries (cleared, not evicted,
    * when full — correctness never depends on the cache). Output:
    * (doc_id, n_tokens). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: Column,
      enc: Encoder): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(enc)
    docs.select(col(idCol).cast("long").as("doc_id"),
        textCol.cast("string").as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val e = bc.value
        val memo = new java.util.HashMap[String, Integer](1 << 12)
        it.map { case (id, t) =>
          var n = 0L
          if (t != null) {
            val words = t.split("\\s+")
            var i = 0
            while (i < words.length) {
              val w = words(i)
              if (w.nonEmpty) {
                var c = memo.get(w)
                if (c == null) {
                  if (memo.size >= (1 << 20)) memo.clear()
                  c = Integer.valueOf(e.wordTokens(w))
                  memo.put(w, c)
                }
                n += c.intValue()
              }
              i += 1
            }
          }
          (id, n)
        }
      }
      .toDF("doc_id", "n_tokens")
  }
}
