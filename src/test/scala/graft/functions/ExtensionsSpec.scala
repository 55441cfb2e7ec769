package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

class ExtensionsSpec extends SparkSpec {

  test("native functions callable from SQL text after registration") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val row = spark.sql(
      """SELECT java_hash('hello') AS h,
        |       java_hash_bucket('polygenelubricants', 32) AS b,
        |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin)
      .as[(Int, Int, Double)].head()
    assert(row == (("hello".hashCode, 0, 11.0)))
  }

  test("withExtensions wires functions into a fresh session") {
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // getOrCreate may return the shared session; register covers either way
    GraftExtensions.register(s2)
    import s2.implicits._
    assert(s2.sql("SELECT java_hash('abc') AS h").as[Int].head() == "abc".hashCode)
  }

  test("every function rejects zero and wrong argument counts with WRONG_NUM_ARGS") {
    GraftExtensions.register(spark)
    // (function, a call with one argument too many or too few)
    val wrongArity = Seq(
      "java_hash" -> "java_hash('a', 'b')",
      "java_hash_bucket" -> "java_hash_bucket('a')",
      "dot_product" -> "dot_product(array(1.0D))",
      "md5_field" -> "md5_field('a', 0)",
      "normalize_unicode" -> "normalize_unicode('a')")
    assert(wrongArity.map(_._1).toSet == GraftExtensions.functions.map(_._1).toSet)
    wrongArity.foreach { case (fn, call) =>
      Seq(s"$fn()", call).foreach { sql =>
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT $sql").collect()
        }
        assert(e.getCondition.startsWith("WRONG_NUM_ARGS") && e.getMessage.contains(fn),
          s"$sql: ${e.getMessage}")
      }
    }
  }
}
