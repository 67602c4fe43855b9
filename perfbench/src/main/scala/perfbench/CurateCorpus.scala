package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.pipeline.ExtractPipeline

/** curate_corpus: conversation reassembly (primary) and corpus dedup
  * (secondary) over a seeded clean-turn table, generated directly so that
  * `core` does no work. The work is shuffle, sort and checkpoint under key
  * skew: one mega-conversation owns ~10% of the turns. */
object CurateCorpus extends Workload {
  val name = "curate_corpus"
  val primarySpan = "pipeline.conversationText"
  val secondarySpan = "operators.Dedup.dedupCorpus"

  val Spec = Gen.CleanSpec(originals = 60000)

  private var clean: DataFrame = _
  private var refText: Digest = _
  private var refDedup: Digest = _

  private def docs: DataFrame = clean.select(col("doc_id"), col("clean_text"))

  def generate(env: Env): Unit = {
    val in = env.path("clean_turns")
    Gen.cleanTurns(env.spark, env.seed, Spec, env.cores * 4)
      .write.mode("overwrite").parquet(in)
    clean = env.spark.read.parquet(in)
  }

  val warmUpRounds = 2
  val nominalRoundSeconds = 5.0

  def reference(env: Env): Unit = {
    // the independent OrderedConcat form is the reassembly reference
    refText = Digest.of(ExtractPipeline.conversationTextAgg(clean))._1
    // dedup must keep exactly the generator's distinct documents
    refDedup = Digest.of(docs.filter(col("doc_id") < Spec.originals))._1
  }

  /** Reassembly is short next to dedup; it runs this many times a round. */
  val ReassemblesPerRound = 3

  def round(env: Env): Unit = {
    (1 to ReassemblesPerRound).foreach { _ =>
      env.op("conversationText") {
        env.tracer.span(primarySpan) {
          Digest.of(ExtractPipeline.conversationText(clean))._1
        }
      } { d => if (d != refText) Some(s"digest $d != conversationTextAgg $refText") else None }
        .foreach { case (secs, _) =>
          env.record("primary_s", secs)
          env.record("primary_items_per_s", Spec.rows / secs)
        }
    }
    env.op("dedupCorpus") {
      env.tracer.span(secondarySpan) {
        Digest.of(Dedup.dedupCorpus(docs, "doc_id", "clean_text"))._1
      }
    } { d =>
      if (d != refDedup)
        Some(s"kept $d, expected the ${Spec.originals} distinct documents $refDedup")
      else None
    }.foreach { case (secs, _) =>
      env.record("secondary_items_per_s", Spec.rows / secs)
    }
  }

  /** Dedup's stages timed one by one through the operator's public parts,
    * composed as `dedupCorpus` composes them. */
  def traceExtras(env: Env): Seq[(String, Double, String)] = {
    val tr = env.tracer
    val ledger = env.ledger.get
    def timed[A](span: String)(body: => A): (Double, A) = tr.span(span) {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val (exactS, exact) = timed("operators.Dedup.exactDedup") {
      val e = Dedup.exactDedup(docs, "doc_id", "clean_text").localCheckpoint()
      e.count()
      e
    }
    val (pairsS, (pairs, nPairs)) = timed("operators.Dedup.minhashNearDups") {
      val p = Dedup.minhashNearDups(exact, "doc_id", "clean_text").localCheckpoint()
      (p, p.count())
    }
    val (ccS, _) = timed("operators.Dedup.nearDupClusters") {
      Dedup.nearDupClusters(pairs).write.format("noop").mode("overwrite").save()
    }
    val candidates = Dedup.minhashCandidates(exact, "doc_id", "clean_text").count()
    PerfbenchRun.drain(env.spark)
    val primary = ledger.fold(ledger.jobsOf(tr.run, tr.subtree(tr.named(primarySpan).last)))
    val dedup = ledger.fold(ledger.jobsOf(tr.run, tr.subtree(tr.named(secondarySpan).last)))
    Seq(
      ("pipeline.reassemble_jobs", primary.jobs.toDouble, "count"),
      ("pipeline.reassemble_shuffle_mb", primary.shuffleMb, "MB"),
      ("pipeline.reassemble_task_skew", primary.taskSkew, "ratio"),
      ("operators.dedup_exact_s", exactS, "s"),
      ("operators.dedup_pairs_s", pairsS, "s"),
      ("operators.dedup_cc_s", ccS, "s"),
      ("operators.dedup_candidate_pairs", candidates.toDouble, "count"),
      ("operators.dedup_pair_yield", nPairs.toDouble / math.max(1L, candidates), "ratio"),
      ("operators.dedup_shuffle_mb", dedup.shuffleMb, "MB"),
      ("curate_corpus.reassemble_turns_per_s", env.med("primary_items_per_s"), "1/s"),
      ("curate_corpus.dedup_docs_per_s", env.med("secondary_items_per_s"), "1/s"))
  }
}
