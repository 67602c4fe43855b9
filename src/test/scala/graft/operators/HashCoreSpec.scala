package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HashCoreSpec extends AnyFunSuite {

  test("modP equals % for the kernel's whole input domain [0, 2^62)") {
    val P = HashCore.P
    val rnd = new scala.util.Random(11)
    // structured edges: 0, P-1, P, P+1, multiples of P, 2^62-1, fold carries
    val edges = Seq(0L, 1L, P - 1, P, P + 1, 2 * P, 2 * P + 1,
      (1L << 31), (1L << 32) - 1, (1L << 62) - 1, (P - 1) * (P - 1) + (P - 1))
    edges.foreach(x => assert(HashCore.modP(x) == x % P, s"x=$x"))
    (1 to 100000).foreach { _ =>
      val x = rnd.nextLong() >>> 2 // uniform in [0, 2^62)
      assert(HashCore.modP(x) == x % P, s"x=$x")
    }
    // the exact kernel form: a*h + b with a in [1, P-1], h,b in [0, P-1]
    (1 to 20000).foreach { _ =>
      val a = 1 + (rnd.nextLong() >>> 1) % (P - 1)
      val h = (rnd.nextLong() >>> 1) % P
      val b = (rnd.nextLong() >>> 1) % P
      val x = a * h + b
      assert(HashCore.modP(x) == x % P, s"a=$a h=$h b=$b")
    }
  }

  test("shingleStrings == array_distinct(shinglesCol) for random and edge texts") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val texts = Seq("", " ", "one", "one two", "a  b   c", "x y z x y z x y z") ++
      Seq.fill(40)(Vector.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(5))).mkString(" "))
    for (k <- Seq(2, 3, 5)) {
      val fromCol = texts.toDF("text")
        .select(array_distinct(TextStats.shinglesCol(col("text"), k)).as("sh"))
        .collect().map(_.getSeq[String](0).toVector)
      val fromKernel = texts.map(t => HashCore.shingleStrings(t, k).toVector)
      texts.indices.foreach { i =>
        assert(fromKernel(i) == fromCol(i), s"k=$k text='${texts(i)}'")
      }
    }
  }

  test("signatures are deterministic and band keys stable") {
    val sig1 = HashCore.minhashSignature(HashCore.shingleHashes("a b c d e f g", 3), 64)
    val sig2 = HashCore.minhashSignature(HashCore.shingleHashes("a b c d e f g", 3), 64)
    assert(sig1.toSeq == sig2.toSeq)
    assert(HashCore.bandKeys(sig1, 16).toSeq == HashCore.bandKeys(sig2, 16).toSeq)
    assert(sig1.forall(v => v >= 0 && v < HashCore.P))
  }
}
