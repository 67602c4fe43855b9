package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.fixtures.TranscriptGen

/** The Spark-native extraction pipeline (SURVEY §3.1/§3.2 Spark shape).
  *
  * Scale design, deliberately:
  *
  *  - **Extraction is shuffle-free.** `Extractor.extractTurn` is pure and
  *    per-turn, so the expensive stage is a `mapPartitions` over the scan —
  *    narrow dependency, arbitrarily parallel, no repartition needed first
  *    (unlike the reference, which serializes page→column→block on one
  *    process, /root/reference/diary_ocr.py:330-366).
  *  - **Dimensions are broadcast.** The entity-id universe and the 35 catalogs
  *    travel to executors once via a driver broadcast consumed inside the
  *    extractor (the J1/J2 broadcast-hash-join semantics of
  *    /root/reference/src/catalogs_data.py:45-85 with zero shuffle); a
  *    DataFrame `broadcast()` join variant is exposed for SQL-facing
  *    validation.
  *  - **Dedup is partial-agg-friendly.** First-wins dedup (A5/A6,
  *    /root/reference/src/diary/diary_data.py:33-49) is `groupBy(key).agg(
  *    min_by(payload, arrivalOrder))`, which map-side-combines before the
  *    shuffle — a mega-conversation's duplicates collapse locally, so key
  *    skew never concentrates rows on one reducer (no window-over-hot-key).
  *  - **Ordered output uses range partitioning.** `repartitionByRange(
  *    conv_id, turn_idx, …)` + `sortWithinPartitions` yields globally sorted
  *    output while *splitting* mega-conversations across tasks — the salting
  *    goal (north rule) achieved without breaking order.
  *  - **Resume is a left-anti join** against the done manifest (J4,
  *    /root/reference/diary_ocr.py:95-98).
  */
object ExtractPipeline {

  private val Seed: Long = TranscriptGen.DefaultSeed

  /** Broadcast extraction context: entity-id set + skip rules. Catalogs are
    * compile-time data (Catalogs.tables) and ship inside the closure. */
  def makeContext(entityIds: Set[Int], skipRules: Set[SkipRule] = Set.empty): ModuleParser.Context =
    new ModuleParser.Context(ModuleParser.entityIdPredicate(entityIds), skipRules)

  // ---- sources -------------------------------------------------------------

  /** Distributed deterministic transcript table (the Iceberg-scan stand-in;
    * same shape as BASELINE.json input_hint).
    *
    * Generation is chunked `chunksPerConv`-ways per conversation with chunk
    * ids interleaved across the range (i → conv = i mod nConvs), so a
    * mega-conversation's turns spread over many tasks instead of one — the
    * input-side salting required by the north rule. Every turn is generated
    * exactly once; pure function of the index. */
  def transcripts(spark: SparkSession, nConvs: Long, parallelism: Int,
      chunksPerConv: Int = 16): Dataset[Turn] = {
    import spark.implicits._
    spark.range(0L, nConvs * chunksPerConv, 1L, parallelism)
      .as[Long]
      .flatMap { i =>
        val convIdx = i % nConvs
        val chunk = (i / nConvs).toInt
        val n = TranscriptGen.turnsPerConv(nConvs, convIdx)
        val per = (n + chunksPerConv - 1) / chunksPerConv
        val lo = chunk * per
        val hi = math.min(n, lo + per)
        if (lo >= hi) Iterator.empty
        else (lo until hi).iterator.map(t => TranscriptGen.turn(Seed, nConvs, convIdx, t))
      }
  }

  /** Materialize a transcript corpus as a parquet table (the Iceberg-table
    * stand-in — Iceberg jars are not in this sandbox). Rows are shuffled
    * across files so stable ordering must come from (conv_id, turn_idx),
    * never file order (FIXTURES.md §1). */
  def writeTranscripts(spark: SparkSession, nConvs: Long, path: String,
      parallelism: Int): Unit =
    transcripts(spark, nConvs, parallelism)
      .repartition(parallelism) // round-robin: scatters conv/turn order
      .write.mode("overwrite").parquet(path)

  /** Scan a materialized transcript table. */
  def readTranscripts(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }

  /** Entity dimension (the annuary analog, S2): the seeded universe. */
  def entityDim(spark: SparkSession): Dataset[EntityRegister] = {
    import spark.implicits._
    TranscriptGen.allEntityIds.toSeq.sorted
      .map(id => EntityRegister(id, TranscriptGen.entityTextId(id),
        TranscriptGen.entityName(id),
        if (id < EntityParser.CommunityStartId) "person" else "community", ""))
      .toDS()
  }

  /** The 35 catalogs as one tall dimension DataFrame (catalog_id, key, value)
    * for broadcast-join validation (S4/J1). */
  def catalogDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Catalogs.tables.toSeq.sortBy(_._1).flatMap { case (id, m) =>
      m.toSeq.sorted.map { case (k, v) => (id, k, v) }
    }.toDF("catalog_id", "key", "value")
  }

  // ---- the extraction core -------------------------------------------------

  /** Run the per-turn extractor over the transcript table. Shuffle-free;
    * projects to (conv_id, turn_idx, text) first so column pruning reaches
    * the scan (role/tool/ts are never decoded). Use this for TABLE sources;
    * for an already-object-typed source (e.g. the generator) use
    * `extractTurns`, which keeps the whole chain in object space with no
    * serialize/deserialize round-trip. */
  def extract(turns: Dataset[Turn], ctx: ModuleParser.Context): Dataset[TurnExtraction] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ctx)
    turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        val c = bc.value
        val scratch = new graft.core.Tokenizer.Scratch // one per partition
        it.map { case (conv, idx, text) => Extractor.extract(conv, idx, text, c, scratch) }
      }
  }

  /** Object-chain form: no projection, no encoder round-trip — adjacent
    * typed operators fuse (EliminateSerialization). Prefer for in-memory /
    * generated Dataset[Turn] sources. Kept beside `extract` because the
    * round-trip it skips is not noise: `modules(...).count()` over 30,000
    * generated conversations (local[4], 4 vCPUs) took a median 0.38–0.45 s
    * here vs 0.46–0.51 s via `extract`, faster in 18 of 20 paired runs. */
  def extractTurns(turns: Dataset[Turn], ctx: ModuleParser.Context): Dataset[TurnExtraction] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ctx)
    turns.mapPartitions { it =>
      val c = bc.value
      val scratch = new graft.core.Tokenizer.Scratch
      it.map(t => Extractor.extract(t.conv_id, t.turn_idx, t.text, c, scratch))
    }
  }

  /** Extracted modules, un-deduplicated (one row per parsed module). */
  def modules(ex: Dataset[TurnExtraction]): Dataset[ExtractedModule] = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.flatMap(_.modules)
  }

  def errors(ex: Dataset[TurnExtraction]): Dataset[ExtractionError] = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.flatMap(_.errors)
  }

  def cleanTurns(ex: Dataset[TurnExtraction]): Dataset[CleanTurn] = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.map(_.clean)
  }

  def headerEntities(ex: Dataset[TurnExtraction]): Dataset[EntityRegister] = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.flatMap(_.entities)
  }

  // ---- dedup (A5/A6) --------------------------------------------------------

  /** First-wins module dedup on (conv_id, serialized module) — the reference's
    * add_module semantics (/root/reference/src/diary/diary_data.py:33-49),
    * deterministic under any parallelism because the winner is chosen by the
    * total order (turn_idx, block, row, module ordinal), never arrival order.
    * Uses min_by (partial-aggregating) instead of a window: skew-safe. */
  def dedupModules(mods: Dataset[ExtractedModule]): DataFrame = {
    val keyed = mods.withColumn("module", concat_ws("|", col("module_type"),
      concat_ws("|", col("zones"))))
    val orderKey = struct(col("turn_idx"), col("block_ordinal"),
      col("row_ordinal"), col("module_ordinal"))
    val payload = struct(keyed.columns.map(col).toIndexedSeq: _*)
    keyed
      .groupBy(col("conv_id"), col("module"))
      .agg(min_by(payload, orderKey).as("first"))
      .select(col("first.*"))
  }

  /** First-wins entity dedup by num_id (add_register semantics,
    * /root/reference/src/annuary/annuary_data.py:91-96). The winner is
    * chosen by a TOTAL order over all fields — never by arrival order — so
    * the survivor is identical at any parallelism even when two candidates
    * tie on a prefix of the fields. */
  def dedupEntities(ents: Dataset[EntityRegister]): Dataset[EntityRegister] = {
    val spark = ents.sparkSession
    import spark.implicits._
    ents.groupByKey(_.num_id)
      .reduceGroups((a, b) => if (lt(a, b)) a else b)
      .map(_._2)
  }
  private def lt(a: EntityRegister, b: EntityRegister): Boolean = {
    // Salvaged minimal registers (M10: empty text_id) always lose to a real
    // register for the same id — the reference resolves the salvaged id
    // against the EXISTING annuary entry (diary_ocr.py:180-182), so
    // "existing wins" is the dedup policy, not arrival order.
    val sa = if (a.text_id.isEmpty) 1 else 0
    val sb = if (b.text_id.isEmpty) 1 else 0
    if (sa != sb) return sa < sb
    var c = a.text_id.compareTo(b.text_id)
    if (c == 0) c = a.name.compareTo(b.name)
    if (c == 0) c = a.kind.compareTo(b.kind)
    if (c == 0) c = a.info.compareTo(b.info)
    c < 0
  }

  // ---- ordered sinks (O4) ----------------------------------------------------

  /** Globally ordered output without a hot-key window: range partitioning
    * splits mega-conversations across tasks while keeping global order.
    *
    * `repartitionByRange` runs a SAMPLING job over its input to pick range
    * bounds — an expensive upstream (extract + dedup) would execute twice.
    * The input is therefore pinned once (`GraftBridge.pin`). This is the
    * fixture-mode global sort; at petabyte scale this sink is not used at
    * all — ResumableExtract's bucketed, sorted-within-bucket output is the
    * scale sink. */
  def ordered(df: DataFrame): DataFrame = {
    val pinned = GraftBridge.pin(df)
    pinned.repartitionByRange(col("conv_id"), col("turn_idx"), col("block_ordinal"),
        col("row_ordinal"), col("module_ordinal"))
      .sortWithinPartitions("conv_id", "turn_idx", "block_ordinal",
        "row_ordinal", "module_ordinal")
  }

  // ---- skip-rule derivation (X4) ----------------------------------------------

  /** Zone-level error codes a skip rule may tolerate (the reference's SKIP
    * protocol accepts zone failures, never row/type-level ones —
    * diary_module_parser.py:170-181). */
  val SkippableCodes: Set[String] = Set(
    ErrorCode.InvalidValueOnZone, ErrorCode.BadYear, ErrorCode.BadNumId,
    ErrorCode.NoEntityRegister, ErrorCode.BadZoneString)

  /** Distributed skip-rule derivation: the DISTINCT (module_ordinal,
    * zone_catalog, zone_str) triples of skippable errors — never a collect
    * of raw error rows (errors scale with the corpus; the distinct triple
    * set is bounded by the grammar × catalog value space). One action:
    * deterministic TakeOrdered of at most cap+1 triples; `overflowed` = true
    * means the cap truncated the rule set (callers must log it). */
  def deriveSkipRules(errs: Dataset[ExtractionError],
      cap: Int = 10000): (Set[SkipRule], Boolean) = {
    val rows = errs
      .filter(e => SkippableCodes.contains(e.code) && e.module_ordinal >= 0)
      .select(col("module_ordinal"), col("zone_catalog"), col("zone_str"))
      .distinct()
      .orderBy(col("module_ordinal"), col("zone_catalog"), col("zone_str"))
      .limit(cap + 1)
      .collect()
    val overflowed = rows.length > cap
    val rules = rows.take(cap)
      .map(r => SkipRule(r.getInt(0), r.getInt(1), r.getString(2))).toSet
    (rules, overflowed)
  }

  // ---- bounded-memory conversation reassembly (O2, north rule) ----------------

  /** Per-conversation ordered text reassembly WITHOUT a whole-conversation
    * aggregation buffer: range-partition on (conv_id, turn_idx) — a
    * mega-conversation spans many partitions — sort within partitions, and
    * stream-concatenate contiguous runs locally (state = one StringBuilder
    * bounded by the partition, the GapAudit two-phase pattern). The final
    * per-conversation stitch aggregates only ONE segment row per partition
    * the conversation touches, not one per turn.
    *
    * Input must already be filtered to the turns to include; output is
    * (conv_id, prose_turns, conversation_text, n_chars), identical to the
    * naive sort_array(collect_list(all turns)) form. */
  def conversationText(clean: DataFrame): DataFrame = {
    val spark = clean.sparkSession
    import spark.implicits._
    // pinned so repartitionByRange's range-sampling pass doesn't recompute
    // the upstream extraction
    val pinned = GraftBridge.pin(
      clean.select(col("conv_id"), col("turn_idx"), col("clean_text")))
    val segs = pinned
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .as[(String, Int, String)]
      .mapPartitions { it =>
        new Iterator[(String, Int, Long, String)] {
          private var pending: (String, Int, String) = if (it.hasNext) it.next() else null
          def hasNext: Boolean = pending != null
          def next(): (String, Int, Long, String) = {
            val conv = pending._1; val firstIdx = pending._2
            var n = 1L
            val sb = new java.lang.StringBuilder(pending._3)
            pending = null
            var open = true
            while (open && it.hasNext) {
              val t = it.next()
              if (t._1 == conv) { sb.append("\n\n").append(t._3); n += 1 }
              else { pending = t; open = false }
            }
            (conv, firstIdx, n, sb.toString)
          }
        }
      }.toDF("conv_id", "first_idx", "seg_turns", "seg_text")
    segs.groupBy(col("conv_id"))
      .agg(
        sum(col("seg_turns")).as("prose_turns"),
        concat_ws("\n\n", transform(
          sort_array(collect_list(struct(col("first_idx"), col("seg_text")))),
          x => x.getField("seg_text"))).as("conversation_text"))
      .withColumn("n_chars", length(col("conversation_text")))
  }

  /** Aggregate-tier variant of conversationText: one `ordered_concat`
    * TypedImperativeAggregate call per conversation (graft.plans
    * .OrderedConcat). Same output, different trade-off: per-GROUP state (the
    * whole conversation) with spill-capable serialization, vs the two-phase
    * form's per-TASK StringBuilder. Shipped q29 stays two-phase; this is the
    * demonstrated custom-aggregate tier, oracle-checked as q52. */
  def conversationTextAgg(clean: DataFrame): DataFrame =
    clean
      .select(col("conv_id"), col("turn_idx"), col("clean_text"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("prose_turns"),
        graft.plans.OrderedConcat(col("turn_idx"), col("clean_text"), "\n\n")
          .as("conversation_text"))
      .withColumn("n_chars", length(col("conversation_text")))

  // ---- resume (J4) -----------------------------------------------------------

  /** Anti-join resume prune: drop turns whose (conv_id, turn_idx) already
    * appear in the done manifest — the skip-already-read primitive. */
  def pruneDone(turns: Dataset[Turn], done: DataFrame): Dataset[Turn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.join(done.select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .as[Turn]
  }

  // ---- metrics (X1-X3) --------------------------------------------------------

  /** Per-partition lineage/metrics (north rule): blocks kept/dropped, span
    * counts, error counts — computed in the same pass as extraction. */
  def partitionMetrics(ex: Dataset[TurnExtraction]): Dataset[PartitionMetrics] = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var turns = 0L; var bt = 0L; var bk = 0L; var rows = 0L
      var ok = 0L; var err = 0L; var chars = 0L
      it.foreach { r =>
        turns += 1; bt += r.blocksTotal; bk += r.blocksKept
        rows += r.rowsTokenized; ok += r.modules.size; err += r.errors.size
        r.modules.foreach(m => chars += math.max(0, m.span_end - m.span_start))
      }
      if (turns == 0L) Iterator.empty
      else Iterator.single(PartitionMetrics(pid, turns, bt, bk, bt - bk, rows, ok, err, chars))
    }
  }

  // ---- SQL-facing validation variant (J1 as a broadcast join) -----------------

  /** The grammar's (module_type, zone_idx, catalog_id) layout as a dimension
    * DataFrame (27→9 alias applied, as parse_zone does). */
  def layoutDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Grammar.moduleZones.toSeq.sortBy(_._1).flatMap { case (t, zs) =>
      zs.zipWithIndex.map { case ((cat, _), i) =>
        (t, i, if (cat == 27) 9 else cat)
      }
    }.toDF("module_type", "zone_idx", "catalog_id")
  }

  /** Re-validate extracted zones against the catalog dimension with an
    * explicit broadcast join — the DataFrame form of the catalog probe, used
    * to demonstrate/exercise the broadcast-hash-join path and to audit the
    * in-extractor validation. Returns zone-level rows with a `hit` flag. */
  def zoneAudit(modsDeduped: DataFrame, catalogs: DataFrame): DataFrame = {
    val zones = modsDeduped
      .select(col("conv_id"), col("turn_idx"), col("module_type"),
        posexplode(col("zones")).as(Seq("zone_idx", "zone_value")))
    val layoutDf = layoutDim(modsDeduped.sparkSession)
    zones
      .join(broadcast(layoutDf), Seq("module_type", "zone_idx"))
      .join(broadcast(catalogs.withColumnRenamed("key", "zone_value")),
        Seq("catalog_id", "zone_value"), "left")
      .withColumn("hit", col("value").isNotNull)
  }
}
