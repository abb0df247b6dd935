package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `GraftExtensions` is the only way graft's functions reach a session:
  * every function it lists resolves in a `Sessions` session with no
  * registration call, and each builder rejects a wrong argument count by
  * name. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // name -> (a well-formed call, a wrong-arity call), over `range(3)`'s `id`
  private val calls = Map(
    "cosine_sim" -> ("cosine_sim(array(1d, 0d), array(1d, 1d))",
      "cosine_sim(array(1d), array(1d), array(1d))"),
    "dot_product" -> ("dot_product(array(1d, 2d), array(3d, 4d))",
      "dot_product(array(1d))"),
    "simhash32" -> ("simhash32(array('a', 'b'))", "simhash32()"),
    "simhash60" -> ("simhash60(array('a', 'b'))", "simhash60(array('a'), array('b'))"),
    "rp_band_codes" -> ("rp_band_codes(array(1L, -2L, 3L))", "rp_band_codes()"),
    "md5_prefix48" -> ("md5_prefix48('a')", "md5_prefix48('a', 'b')"),
    "collect_sorted_capped" -> ("collect_sorted_capped(id, 4)",
      "collect_sorted_capped(id, 4, 5)"))

  test("every function resolves with no registration call and describes its class") {
    assert(GraftExtensions.functions.map(_._1).toSet == calls.keySet)
    for ((name, className, _) <- GraftExtensions.functions) {
      val described = spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(described.contains(s"Class: $className"), s"$name: ${described.mkString("; ")}")
      val row = spark.sql(s"SELECT ${calls(name)._1} FROM range(3)").head()
      assert(!row.isNullAt(0), name)
    }
  }

  test("a wrong-arity call fails loudly and names the function") {
    for ((name, _, _) <- GraftExtensions.functions) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT ${calls(name)._2} FROM range(3)").collect()
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(m => m.contains(name) && m.contains("argument")),
        messages.mkString(" | "))
    }
  }
}
