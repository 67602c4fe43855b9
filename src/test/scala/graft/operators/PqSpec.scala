package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization ANN: exactness-when-lossless, recall under real
  * compression, determinism, and the cosine-as-L2 contract. */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def randVecs(n: Int, dim: Int, seed: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
  }

  private def topMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select("query_id", "id", "rank").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
      }

  test("lossless regime (every sample point its own centroid, m=1): " +
    "PQ top-k == brute-force top-k exactly") {
    import spark.implicits._
    // 64 distinct vectors, ksub=64, sample=whole corpus: k-means keeps each
    // point as its own centroid, ADC distance == true L2 on normalized
    // vectors == exact cosine ranking -> candidates contain the true top-k
    // and the exact re-rank makes the outputs identical
    val vecs = randVecs(64, 8, seed = 1)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val model = Pq.fit(df, "vec_id", "embedding", m = 1, ksub = 64,
      sampleSize = 64, iters = 10)
    val pq = topMap(Pq.topK(df, "vec_id", "embedding",
      queries, "qid", "qv", 10, model, r = 64))
    val brute = topMap(Similarity.bruteForceTopK(df, "vec_id", "embedding",
      queries, "qid", "qv", 10))
    assert(pq == brute)
  }

  test("compressed regime (m=8, ksub=16 over 64-d): recall@10 >= 0.8 vs " +
    "brute force, deterministic across refits") {
    import spark.implicits._
    val vecs = randVecs(300, 64, seed = 2)
    val df = vecs.toDF("vec_id", "embedding").repartition(7)
    val queries = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val model = Pq.fit(df, "vec_id", "embedding", m = 8, ksub = 16)
    val pq = topMap(Pq.topK(df, "vec_id", "embedding",
      queries, "qid", "qv", 10, model, r = 64))
    val brute = topMap(Similarity.bruteForceTopK(df, "vec_id", "embedding",
      queries, "qid", "qv", 10))
    val recalls = brute.map { case (q, ids) =>
      pq.getOrElse(q, Seq.empty).toSet.intersect(ids.toSet).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, s"recall@10 $recall")
    // refit + rerun is bit-identical (deterministic sample, init, ties)
    val model2 = Pq.fit(df, "vec_id", "embedding", m = 8, ksub = 16)
    assert(model2.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq)
    val pq2 = topMap(Pq.topK(df, "vec_id", "embedding",
      queries, "qid", "qv", 10, model2, r = 64))
    assert(pq2 == pq)
  }

  test("codes are m bytes; ADC candidates exclude self and respect r") {
    import spark.implicits._
    val vecs = randVecs(50, 16, seed = 3)
    val df = vecs.toDF("vec_id", "embedding")
    val model = Pq.fit(df, "vec_id", "embedding", m = 4, ksub = 8)
    val codes = Pq.encode(df, "vec_id", "embedding", model)
    val rows = codes.collect()
    assert(rows.length == 50)
    rows.foreach(r => assert(r.getAs[Array[Byte]]("code").length == 4))
    val queries = df.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cands = Pq.adcCandidates(codes, queries, "qid", "qv", model, r = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = cands.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L))
    byQ.foreach { case (q, cs) =>
      assert(cs.length == 7, s"query $q got ${cs.length}")
      assert(!cs.map(_._2).contains(q), s"query $q matched itself")
    }
  }

  test("contract violations fail loudly") {
    import spark.implicits._
    val df = randVecs(20, 10, seed = 4).toDF("vec_id", "embedding")
    // m must divide dim
    val e1 = intercept[IllegalArgumentException] {
      Pq.fit(df, "vec_id", "embedding", m = 3, ksub = 4)
    }
    assert(e1.getMessage.contains("divide"))
    // ksub byte bound
    val e2 = intercept[IllegalArgumentException] {
      Pq.fit(df, "vec_id", "embedding", m = 2, ksub = 300)
    }
    assert(e2.getMessage.contains("256"))
    // encode rejects a vector whose dim disagrees with the model
    val model = Pq.fit(df, "vec_id", "embedding", m = 2, ksub = 4)
    val badDim = Seq((99L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val ex = intercept[org.apache.spark.SparkException] {
      Pq.encode(badDim, "vec_id", "embedding", model).collect()
    }
    assert(ex.getMessage.contains("dim") ||
      Option(ex.getCause).exists(_.getMessage.contains("dim")))
  }
}
