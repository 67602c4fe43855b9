package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

class GraftExtensionsSpec extends AnyFunSuite {

  test("injectFunction path: cosine_similarity callable from SQL") {
    // a session built with the extension (not `install`): its function
    // registry is the builtins plus exactly what GraftExtensions injects
    val shared = SharedSpark.spark // the new session reuses its SparkContext
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      val r = ext.sql(
        """SELECT cosine_similarity(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c,
          |  array_jaccard(array('a', 'b', 'b'), array('b', 'c')) AS j""".stripMargin)
        .collect().head
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) == 1.0 / 3.0)
      val s = ext.sql(
        "SELECT ordered_concat(k, t, ',') FROM VALUES (2, 'b'), (1, 'a') AS v(k, t)")
        .collect().head.getString(0)
      assert(s == "a,b")
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
