package perfbench

import graft.core._
import graft.fixtures.TranscriptGen
import graft.pipeline.ExtractPipeline

/** The `core` layer timed on one driver thread over a fixed in-memory
  * sample of extract_commit turns (generator default seed, independent of
  * the run seed), so its numbers stay flat on workloads that never run
  * `core`. Each figure is the median of `Reps` passes over the sample. */
object CoreProbe {
  val SampleConvs = 1000
  val Reps = 5
  /** Untimed passes first: on workloads that never ran `core`, the JIT has
    * not compiled it yet. */
  val WarmUpPasses = 30

  private lazy val sample: IndexedSeq[Turn] =
    TranscriptGen.corpus(TranscriptGen.DefaultSeed, SampleConvs).toIndexedSeq
  private lazy val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)

  private var results: Map[String, Double] = Map.empty
  /** Written after each probe so the timed passes cannot be elided. */
  @volatile private var blackhole = 0L
  def last(name: String): Double = results(name)

  private def nsPer(count: Long)(pass: => Unit): Double = {
    (1 to WarmUpPasses).foreach(_ => pass)
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      pass
      (System.nanoTime() - t0).toDouble / count
    })
  }

  def run(): Seq[(String, Double, String)] = {
    val turns = sample
    val n = turns.length.toLong
    val scratch = new Tokenizer.Scratch
    var sink = 0L

    val extracted = turns.map(t =>
      Extractor.extract(t.conv_id, t.turn_idx, t.text, ctx, scratch))
    val modules = extracted.flatMap(_.modules)
    val deadLetters = extracted.map(_.errors.size.toLong).sum
    val chars = turns.map(_.text.length.toLong).sum
    val canon = turns.map(t => Normalizer.canonicalize(t.text))

    val extractNs = nsPer(n) {
      turns.foreach(t => sink += Extractor.extract(
        t.conv_id, t.turn_idx, t.text, ctx, scratch).modules.size)
    }
    val normalizeNs = nsPer(n) {
      turns.foreach(t => sink += Normalizer.canonicalize(t.text).length)
    }
    val blockNs = nsPer(n) {
      canon.foreach(t => sink += Blocker.blockTreeInto(t, scratch))
    }
    val res = new ModuleParser.ParseResult
    val parseNs = nsPer(math.max(1L, modules.size.toLong)) {
      modules.foreach(m =>
        if (ModuleParser.parseModuleInto(m.module_ordinal, m.module_str, ctx, res)) sink += 1)
    }
    blackhole = sink

    val out = Seq(
      ("core.extract_ns_per_turn", extractNs, "ns"),
      ("core.normalize_ns_per_turn", normalizeNs, "ns"),
      ("core.blocktree_ns_per_turn", blockNs, "ns"),
      ("core.parse_ns_per_module", parseNs, "ns"),
      ("core.chars_per_s", chars / (extractNs * n / 1e9), "1/s"),
      ("core.modules_per_turn", modules.size.toDouble / n, "count"),
      ("core.dead_letters_per_turn", deadLetters.toDouble / n, "count"))
    results = out.map(m => m._1 -> m._2).toMap
    out
  }
}
