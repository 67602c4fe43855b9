package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.ExtractPipeline
import graft.queries.{EventJoins, Extraction, NearDupAnn, Relational, TextCuration}

/** Driver contract: queries, side tables and oracle SQL (README "Layout";
  * SURVEY.md §7). Each query states its name, Spark body and oracle SQL
  * once, in its family's table under `graft.queries`; this object holds the
  * plumbing they share and the three maps built from those tables. */
object SparkEntry {

  /** Deterministic corpus size per scale-factor directory (extraction queries
    * synthesize their own transcript input — no external data). */
  private[graft] def nConvsFor(sfDir: String): Long =
    if (sfDir.contains("sf0.1")) 2500L
    else if (sfDir.contains("sf0.01")) 400L
    else 60L

  /** Inferred parquet schema per table path: the session it was inferred
    * in (schema inference reads session confs), the table's files when it
    * was, and the schema. One entry per path; a new session or a changed
    * file set replaces it. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Listing, StructType)]()

  /** Files as (name, length, mtime). */
  private type Listing = Seq[(String, Long, Long)]

  /** Every file under `path`, listed on the driver; empty when `path` does
    * not exist. */
  private def files(spark: SparkSession, path: String): Listing = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    }
  }

  /** The table `table` of `sfDir`, read with its schema. Inferring a
    * parquet schema runs a Spark job, so the schema is inferred once per
    * session and table, and reused while the table's file listing is
    * unchanged: building a query then starts no job. */
  private[graft] def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val session = org.apache.spark.sql.GraftBridge.sessionUUID(spark)
    val listing = files(spark, path)
    val schema = Option(schemas.get(path)) match {
      case Some((s, l, cached)) if s == session && l == listing => cached
      case _ =>
        val inferred = spark.read.parquet(path).schema
        schemas.put(path, (session, listing, inferred))
        inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The synthetic transcripts of `sfDir`, one partition per core. */
  private[graft] def transcriptsFor(s: SparkSession, sfDir: String) =
    ExtractPipeline.transcripts(s, nConvsFor(sfDir), s.sparkContext.defaultParallelism)

  /** One value for the last (session, sfDir) asked for: Verify and Bench
    * consume exactly one (session, sfDir) at a time, so one slot gives full
    * reuse across a query and its materializations while bounding the cache
    * by construction. A miss evicts the old value and releases it, unless
    * its session is stopped (a stopped session's blocks died with it);
    * either way the strong session reference goes, so a stopped
    * SparkSession is never kept reachable through the cache. (A WeakHashMap
    * keyed by session cannot work here: cached Datasets strongly reference
    * their own session, the documented WeakHashMap self-reference trap.)
    * Hits and swaps hold the lock; `compute` runs OUTSIDE it — a lost race
    * recomputes, it never blocks an unrelated (session, dir) — and a caller
    * that finds its key installed by a racing caller releases its own copy
    * instead of leaking executor cache. A value returned earlier can still
    * be released by a later miss; a released Dataset recomputes from its
    * plan, so only the cache benefit is lost. */
  private[graft] final class Slot[T](release: T => Unit) {
    private var held: Option[(SparkSession, String, T)] = None

    private def quietly(v: T): Unit =
      try release(v) catch { case scala.util.control.NonFatal(_) => }

    /** Must hold the lock: install `next` (or nothing), releasing the old. */
    private def swap(next: Option[(SparkSession, String, T)]): Unit = {
      held.foreach { case (cs, _, old) => if (!cs.sparkContext.isStopped) quietly(old) }
      held = next
    }

    def apply(s: SparkSession, dir: String)(compute: => T): T = {
      val hit = synchronized {
        held match {
          case Some((cs, cd, v)) if (cs eq s) && cd == dir => Some(v)
          case _ => swap(None); None
        }
      }
      hit.getOrElse {
        val v = compute
        synchronized {
          held match {
            case Some((cs, cd, won)) if (cs eq s) && cd == dir => quietly(v); won
            case _ => swap(Some((s, dir, v))); v
          }
        }
      }
    }
  }

  /** Flagship query on sf=0.001-equivalent synthetic transcripts; driver
    * smoke-checks rows>0: the deduped, ordered extracted-module table. */
  def entry(spark: SparkSession): DataFrame = {
    val ex = Extraction.runExtraction(spark, "sf0.001")
    ExtractPipeline.ordered(
      ExtractPipeline.dedupModules(ExtractPipeline.modules(ex)))
  }

  /** A materialized side table (see `materializations`) as a DuckDB
    * read_parquet reference. `{OUT}` is substituted by Verify with the
    * actual output directory at dump time. */
  private[graft] def t(name: String): String =
    s"read_parquet('{OUT}/_tables/$name/*.parquet')"

  /** One query: its Spark body over (session, sfDir), and equivalent ANSI
    * SQL runnable by DuckDB on the same parquet tables (driver-registered
    * sf tables like `lineitem`, plus the `materializations` side tables via
    * `t`). */
  private[graft] final case class Query(
      run: (SparkSession, String) => DataFrame, oracleSql: String)

  /** The entries of `tables` as one map. A name stated twice fails here,
    * naming it, instead of one entry silently replacing the other. */
  private[graft] def merge[V](tables: Seq[(String, V)]*): Map[String, V] = {
    val entries = tables.flatten
    val names = entries.map(_._1)
    val twice = names.diff(names.distinct).distinct
    require(twice.isEmpty, s"names stated more than once: ${twice.mkString(", ")}")
    entries.toMap
  }

  // lazy: a family object that initializes first calls `t`, which
  // initializes SparkEntry; building the maps then would read that family's
  // table while it is still null. A hash Map, not an insertion-ordered one:
  // Verify writes oracle_sql.json and counts.json in iteration order, which
  // for a hash Map depends only on the names.
  private lazy val table = merge(Relational.queries, EventJoins.queries,
    Extraction.queries, TextCuration.queries, NearDupAnn.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map { case (name, q) => name -> q.run }

  /** Each query's oracle SQL (see `Query`). */
  lazy val oracleSql: Map[String, String] =
    table.map { case (name, q) => name -> q.oracleSql }

  /** Side tables Verify writes under `<outDir>/_tables/<name>` (parquet) so
    * the DuckDB oracle can independently re-check the RELATIONAL stages of
    * the non-SQL pipelines: extraction output feeds SQL dedup / group-by /
    * gap / reassembly oracles, candidate-pair tables feed SQL
    * Jaccard/Hamming/cosine verify + top-k re-rank oracles. Everything here
    * is deterministic (seeded generator, deterministic LSH planes), so a
    * query and its materialization compute identical intermediate data. */
  lazy val materializations: Map[String, (SparkSession, String) => DataFrame] =
    merge(Extraction.materializations, TextCuration.materializations,
      NearDupAnn.materializations)
}
