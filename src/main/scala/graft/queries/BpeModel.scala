package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{Slot, load, t}

/** The BPE model the TextCuration family's q64–q71 queries apply and their
  * oracles replay: the trained merge table and vocab, each slot-cached per
  * (session, sfDir), the text both sides see, and the oracle-side replay. */
private[graft] object BpeModel {

  /** Oracle-separator strip for the BPE query family: '|' and '¶' are the
    * DuckDB oracle's token/word boundary characters and '§' is q67's
    * emitted token separator, so the queries train, count, and tokenize
    * over text without any of them — identically on both sides (q67's
    * output would otherwise be ambiguous for text containing '§', and
    * silently so: both engines would degrade the same way).
    *
    * ALSO restricted to printable ASCII + whitespace: the engine splits
    * words into Unicode CODE POINTS while the oracle CTE splits with
    * DuckDB's `w[i]` character indexing — for astral/combining sequences
    * the two symbol alphabets could diverge and report a false mismatch.
    * Stripping non-ASCII on BOTH sides (this column expression feeds the
    * engine; the oracle CTE applies the same regex) makes the alphabets
    * provably identical for any corpus, not just the ASCII synthetic one.
    * Both regex dialects (Java here, RE2 in DuckDB) read the class
    * identically: keep TAB/LF/CR and 0x20–0x7E, minus the separators. */
  private val bpeStripRe = "[^\\t\\n\\r -~]|[|¶§]"
  private[queries] def bpeText(c: Column): Column =
    regexp_replace(c, bpeStripRe, "")

  /** The shared recursive merge-replay prefix of the q64/q66/q67 oracles
    * (doc0 = '|tok|'-encoded sanitized text, steps = one non-overlapping
    * replace per ranked merge) — ONE definition so the three oracles
    * cannot drift apart. */
  private[queries] def bpeReplayCtes: String =
    s"""WITH RECURSIVE doc0 AS (
       |  SELECT doc_id, coalesce(array_to_string(list_transform(
       |      list_filter(
       |        regexp_split_to_array(
       |          regexp_replace(text, '[^\\t\\n\\r -~]|[|¶§]', '', 'g'), '\\s+'),
       |        w -> length(w) > 0),
       |      w -> '|' || array_to_string(
       |        [w[i] for i in range(1, length(w)+1)], '||') || '|'),
       |    '¶'), '') AS s
       |  FROM documents),
       |steps AS (
       |  SELECT doc_id, s, 0 AS r FROM doc0
       |  UNION ALL
       |  SELECT st.doc_id,
       |    replace(st.s, '|' || m.lhs || '||' || m.rhs || '|',
       |                  '|' || m.lhs || m.rhs || '|'),
       |    st.r + 1
       |  FROM steps st JOIN ${t("bpe_merges")} m ON m.merge_rank = st.r)""".stripMargin

  /** The q70/q71 oracles' token ids over the `toks` strings of `from`: each
    * token joined to the materialized bpe_vocab dimension per position
    * (parallel unnest + generate_subscripts keeps positions aligned,
    * Postgres semantics); ids re-joined with ',' in token order. */
  private[queries] def vocabIdsCtes(from: String): String =
    s"""ex AS (
       |  SELECT doc_id, unnest(str_split(toks, '§')) AS tok,
       |    generate_subscripts(str_split(toks, '§'), 1) AS i
       |  FROM $from WHERE toks <> ''),
       |ids AS (
       |  SELECT ex.doc_id,
       |    string_agg(v.token_id::VARCHAR, ',' ORDER BY ex.i) AS ids_str
       |  FROM ex JOIN ${t("bpe_vocab")} v ON v.token = ex.tok
       |  GROUP BY ex.doc_id)""".stripMargin

  /** BPE vocab rows, slot-cached per (session, sfDir) — the q70/q71
    * queries and the `bpe_vocab` materialization must describe the SAME id
    * assignment, and the build (tokenize + distinct + sort + collect) is a
    * one-time dimension cost, not per-query work. */
  private val bpeVocab = new Slot[Seq[(String, Long)]](_ => ())

  private[graft] def bpeVocabRows(s: SparkSession, dir: String): Seq[(String, Long)] =
    bpeVocab(s, dir) {
      graft.operators.Bpe.vocab(load(s, dir, "documents"), "doc_id",
        bpeText(col("text")), bpeEncoder(s, dir))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }

  /** Trained BPE merge table, slot-cached per (session, sfDir) — the
    * skipRuleOutcome pattern — so the q64 query and the `bpe_merges`
    * materialization describe the SAME training run without retraining. */
  private val bpeMerges = new Slot[IndexedSeq[graft.operators.Bpe.Merge]](_ => ())

  private[graft] def bpeMergeTable(s: SparkSession, dir: String)
      : IndexedSeq[graft.operators.Bpe.Merge] = bpeMerges(s, dir) {
    // nMerges=2000 is the production-vocabulary ask (round-4 verdict #1);
    // the incremental trainer makes it cheap, and on this synthetic corpus
    // (31 distinct words) training early-stops when no pair occurs twice,
    // so the materialized merge table — and the oracle replay cost — stays
    // corpus-sized regardless of the budget.
    graft.operators.Bpe.train(
      load(s, dir, "documents"), "doc_id", bpeText(col("text")), nMerges = 2000)
  }

  /** The encoder every BPE query applies: the slot-cached merge table. */
  private[queries] def bpeEncoder(s: SparkSession, dir: String) =
    new graft.operators.Bpe.Encoder(bpeMergeTable(s, dir))
}
