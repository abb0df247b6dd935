package graft

import org.apache.spark.sql.functions.{col, get_json_object}
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper behind every machine-parsed record. */
class JnumSpec extends AnyFunSuite {
  test("Jnum.str: quote, backslash and control chars parse back to the original string") {
    val spark = TestSpark.spark
    import spark.implicits._
    val s = "a\"b\\c\nd\te\u0001f"
    val back = Seq(s"""{"s":${Jnum.str(s)}}""").toDF("j")
      .select(get_json_object(col("j"), "$.s")).as[String].collect().toSeq
    assert(back == Seq(s))
  }
}
