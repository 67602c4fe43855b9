package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-6 per-stage wall profile of the expensive bench legs (guide §1:
  * measure first, isolate with the noop sink, label jobs). Each stage is
  * timed via the noop sink so the computation — not the sink — is measured;
  * stages that feed later stages are localCheckpointed exactly as the
  * production query would, so each number isolates one pipeline segment. */
object R06Probe {
  def t(label: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[r06probe] $label%-40s $s%7.2f s")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val sel = if (args.nonEmpty) args.toSet else Set("q41", "q49", "q57", "q63", "q46")
    import graft.operators._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val planted = graft.SparkEntry.withPlantedTextDups(docs)

    def jobDesc(s: String) = spark.sparkContext.setJobDescription(s)

    if (sel("q41")) {
      jobDesc("q41 stages")
      // warm
      t("q41 full (warm1)")(graft.SparkEntry.queries("q41_dedup_minhash")(spark, sfDir))
      t("q41 full (warm2)")(graft.SparkEntry.queries("q41_dedup_minhash")(spark, sfDir))
      t("q41.candidates")(Dedup.minhashCandidates(planted, "doc_id", "text"))
      val cands = Dedup.minhashCandidates(planted, "doc_id", "text").localCheckpoint()
      t("q41.verify (cands pinned)")(
        Dedup.verifyJaccard(planted, "doc_id", "text", cands, 0.7))
      // banding pass alone (signature kernel, no join)
      val spark2 = spark
      import spark2.implicits._
      t("q41.banding only")(
        planted.select(col("doc_id").cast("long").as("id"), col("text"))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val sig = HashCore.minhashSignature(HashCore.shingleHashes(text, 3), 64)
            val keys = HashCore.bandKeys(sig, 16)
            Iterator.tabulate(16)(b => (id, b, keys(b)))
          }).toDF("id", "band", "band_key"))
      // shingle projection alone
      t("q41.shingle project only")(
        planted.select(col("doc_id").cast("long").as("id"),
          array_distinct(TextStats.shinglesCol(col("text"), 3)).as("sh")))
    }

    if (sel("q57")) {
      jobDesc("q57 stages")
      t("q57 full (warm1)")(graft.SparkEntry.queries("q57_dedup_ngram_jaccard")(spark, sfDir))
      t("q57 full (warm2)")(graft.SparkEntry.queries("q57_dedup_ngram_jaccard")(spark, sfDir))
      t("q57.ngramNearDups only")(
        Dedup.ngramNearDups(planted, "doc_id", "text", 0.7))
      val spark3 = spark
      import spark3.implicits._
      t("q57.postings pass only")(
        planted.select(col("doc_id").cast("long").as("id"), col("text"))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val sh = HashCore.shingleStrings(text, 3)
            sh.iterator.map(s => (id, sh.length, s))
          }).toDF("id", "sz", "shingle"))
    }

    if (sel("q49")) {
      jobDesc("q49 stages")
      t("q49 full (warm1)")(graft.SparkEntry.queries("q49_dedup_corpus")(spark, sfDir))
      t("q49 full (warm2)")(graft.SparkEntry.queries("q49_dedup_corpus")(spark, sfDir))
      val t1 = System.nanoTime()
      val exact = Dedup.exactDedup(planted, "doc_id", "text").localCheckpoint()
      println(f"[r06probe] q49.exactDedup+ckpt ${(System.nanoTime() - t1) / 1e9}%7.2f s")
      t("q49.minhashNearDups(exact)")(
        Dedup.minhashNearDups(exact, "doc_id", "text", threshold = 0.7))
      val pairs = Dedup.minhashNearDups(exact, "doc_id", "text", threshold = 0.7)
        .localCheckpoint()
      println(s"[r06probe] q49.pairs count = ${pairs.count()}")
      val t2 = System.nanoTime()
      val labels = Dedup.nearDupClusters(pairs)
      labels.write.format("noop").mode("overwrite").save()
      println(f"[r06probe] q49.clusters ${(System.nanoTime() - t2) / 1e9}%7.2f s")
      val losers = labels.filter(col("cluster_id") =!= col("id")).select(col("id"))
      t("q49.final anti-join + agg")(
        exact.join(losers.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("docs_kept"),
            sum(when(col("doc_id") >= 1000000L, 1).otherwise(0)).as("planted_kept")))
    }

    if (sel("q63")) {
      jobDesc("q63 stages")
      t("q63 full (warm1)")(graft.SparkEntry.queries("q63_funnel_asof")(spark, sfDir))
      t("q63 full (warm2)")(graft.SparkEntry.queries("q63_funnel_asof")(spark, sfDir))
      t("q56 full (warm)")(graft.SparkEntry.queries("q56_asof_join")(spark, sfDir))
      val e = graft.SparkEntry.load(spark, sfDir, "events")
      def leg(kind: String, ts: String, id: String) =
        e.filter(col("event_type") === kind)
          .select(col("user_id"), col("ts").as(ts), col("event_id").as(id))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      t("q63.legs only")(
        leg("click", "c_ts", "click_id").unionByName(
          leg("view", "c_ts", "click_id")))
      t("q63.asof hop1 only")(
        AsOf.asofJoin(purchases, leg("click", "c_ts", "click_id"),
          key = "user_id", leftTs = "p_ts", rightTs = "c_ts"))
    }

    if (sel("q46")) {
      jobDesc("q46 stages")
      t("q46 full (warm1)")(graft.SparkEntry.queries("q46_multimodal_features")(spark, sfDir))
      t("q46 full (warm2)")(graft.SparkEntry.queries("q46_multimodal_features")(spark, sfDir))
      val media = graft.SparkEntry.mediaTable(spark, sfDir)
      t("q46.decode only")(Multimodal.decode(media).toDF())
    }

    if (sel("q65")) {
      jobDesc("q65 stages")
      t("q65 full (warm1)")(graft.SparkEntry.queries("q65_paragraph_dedup")(spark, sfDir))
      t("q65 full (warm2)")(graft.SparkEntry.queries("q65_paragraph_dedup")(spark, sfDir))
      // the synthesized-paragraph projection alone (the textCol expression
      // the operator evaluates once per consumer)
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      val words = split(col("text"), " ")
      val nP = expr("(size(split(text, ' ')) + 9) div 10")
      val paras = transform(sequence(lit(0), (nP - lit(1)).cast("int")),
        i => array_join(slice(words, i * lit(10) + lit(1), lit(10)), " "))
      val ptext = array_join(paras, "\n")
      val plantedTxt = when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("BOILERPLATE COOKIE NOTICE ACCEPT ALL\n"), ptext))
        .otherwise(ptext)
      t("q65.synthesis projection only")(
        d.select(col("doc_id"), plantedTxt.as("text")))
      t("q65.synthesis + posexplode")(
        d.select(col("doc_id"), plantedTxt.as("text"))
          .select(col("doc_id"),
            posexplode(split(col("text"), "\n")).as(Seq("_pos", "_p"))))
    }

    if (sel("q69")) {
      jobDesc("q69 stages")
      t("q69 full (warm1)")(graft.SparkEntry.queries("q69_ann_pq_topk")(spark, sfDir))
      t("q69 full (warm2)")(graft.SparkEntry.queries("q69_ann_pq_topk")(spark, sfDir))
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val tf = System.nanoTime()
      val model = Pq.fit(e, "vec_id", "embedding", m = 16, ksub = 32)
      println(f"[r06probe] q69.fit ${(System.nanoTime() - tf) / 1e9}%7.2f s")
      t("q69.encode only")(Pq.encode(e, "vec_id", "embedding", model))
    }

    if (sel("extract")) {
      jobDesc("extract leg")
      val nConvs = graft.SparkEntry.nConvsFor(sfDir) * 12
      for (i <- 1 to 3) {
        val (turns, secs) = graft.Bench.extractionThroughput(spark, nConvs)
        println(f"[r06probe] extract run$i: $turns turns in $secs%.2f s = ${turns / secs}%.0f t/s")
      }
    }
    spark.stop()
  }
}
