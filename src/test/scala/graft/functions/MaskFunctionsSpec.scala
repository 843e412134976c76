package graft.functions

import graft.SparkFunSuite
import org.apache.spark.sql.Row

/** Goldens from the reference's CommonTest.java:78-93 and
  * ExecuteDataMaskTest.java:75-99 — char-exact.
  */
class MaskFunctionsSpec extends SparkFunSuite {

  private def sql1(q: String): Any = {
    MaskFunctions.register(spark)
    spark.sql(q).collect().head.get(0)
  }

  test("mask defaults: upper->X lower->x digit->n other retained") {
    assert(sql1("select mask('hive-HDFS-8765-4321')") == "xxxx-XXXX-nnnn-nnnn")
    assert(sql1("select mask('Jack')") == "Xxxx")
  }

  test("mask_first_n masks leading n chars") {
    assert(sql1("select mask_first_n('hive-HDFS-8765-4321', 4)") == "xxxx-HDFS-8765-4321")
  }

  test("mask_last_n masks trailing n chars") {
    assert(sql1("select mask_last_n('hive-HDFS-8765-4321', 4)") == "hive-HDFS-8765-nnnn")
  }

  test("mask_show_first_n shows leading n chars") {
    assert(sql1("select mask_show_first_n('hive-HDFS-8765-4321', 4)") == "hive-XXXX-nnnn-nnnn")
  }

  test("mask_show_last_n shows trailing n chars") {
    assert(sql1("select mask_show_last_n('hive-HDFS-8765-4321', 4)") == "xxxx-XXXX-nnnn-4321")
  }

  test("mask_hash is lowercase sha256 hex") {
    assert(sql1("select mask_hash('flink')") ==
      "7f025323639628aa5e5d24bd56f43317552b140c71406d0eb5a555671bd534d2")
  }

  test("policy 7-arg forms (MASK_SHOW_FIRST_4 / MASK_SHOW_LAST_4)") {
    // ExecuteDataMaskTest.java:93-99
    assert(sql1("select mask_show_first_n('Sally', 4, 'x', 'x', 'x', -1, '1')") == "Sallx")
    assert(sql1("select mask_show_first_n('Edward', 4, 'x', 'x', 'x', -1, '1')") == "Edwaxx")
    assert(sql1("select mask_show_last_n('hammer', 4, 'x', 'x', 'x', -1, '1')") == "xxmmer")
  }

  test("short strings are left untouched by show_first/show_last when n >= len") {
    assert(sql1("select mask_show_first_n('Jo', 4, 'x', 'x', 'x', -1, '1')") == "Jo")
    assert(sql1("select mask_show_last_n('Jo', 4, 'x', 'x', 'x', -1, '1')") == "Jo")
    assert(sql1("select mask_first_n('Jo', 4)") == "Xx")
    assert(sql1("select mask_last_n('Jo', 4)") == "Xx")
  }

  test("null propagates") {
    assert(sql1("select mask(cast(null as string))") == null)
    assert(sql1("select mask_show_first_n(cast(null as string), 4)") == null)
    assert(sql1("select mask_hash(cast(null as string))") == null)
  }

  test("numeric inputs: digits replaced by numberChar, sign and type preserved") {
    // full mask: every digit -> numberChar (default 1)
    assert(sql1("select mask(12345)") == 11111)
    assert(sql1("select mask(cast(-987 as int))") == -111)
    assert(sql1("select mask(12345, 'x', 'x', 'x', -1, '7')") == 77777)
    // the n window counts digits; sign does not occupy a position
    assert(sql1("select mask_first_n(12345, 2)") == 11345)
    assert(sql1("select mask_last_n(12345, 2)") == 12311)
    assert(sql1("select mask_show_first_n(12345, 2)") == 12111)
    assert(sql1("select mask_show_last_n(12345, 2)") == 11145)
    assert(sql1("select mask_show_last_n(-12345, 2)") == -11145)
    // original type is preserved (bigint stays bigint, tinyint stays tinyint)
    assert(sql1("select mask(cast(123456789012 as bigint))") == 111111111111L)
    assert(sql1("select mask(cast(42 as tinyint))") == 11.toByte)
    // n >= digit count masks everything / shows everything, digit count kept
    assert(sql1("select mask_first_n(99, 5)") == 11)
    assert(sql1("select mask_show_first_n(99, 5)") == 99)
    // non-digit numberChar falls back to 1 (Hive behavior)
    assert(sql1("select mask(555, 'x', 'x', 'x', -1, 'z')") == 111)
    // overflow on cast-back yields NULL, not a wrapped value: 19 nines > Long.Max
    assert(sql1(s"select mask(${Long.MaxValue}, 'x', 'x', 'x', -1, '9')") == null)
    assert(sql1("select mask(cast(null as int))") == null)
  }

  test("negative n counts as 0, as Hive clamps charCount < 0") {
    assert(sql1("select mask_first_n('abcdef', -2)") == "abcdef")
    assert(sql1("select mask_last_n('abcdef', -2)") == "abcdef")
    assert(sql1("select mask_show_first_n('abcdef', -2)") == "xxxxxx")
    assert(sql1("select mask_show_last_n('abcdef', -2)") == "xxxxxx")
    assert(sql1("select mask_first_n(123456, -3)") == 123456)
    assert(sql1("select mask_last_n(123456, -3)") == 123456)
    assert(sql1("select mask_show_first_n(-123456, -3)") == -111111)
    assert(sql1("select mask_show_last_n(-123456, -3)") == -111111)
  }

  test("a NULL n gives NULL, never the unmasked value") {
    assert(sql1("select mask_show_last_n(12345, NULL)") == null)
    assert(sql1("select mask_first_n(12345, cast(null as int))") == null)
    assert(sql1("select mask_show_first_n('abc', NULL)") == null)
  }

  test("date variant MASK_DATE_SHOW_YEAR keeps year, resets month/day") {
    assert(sql1("select mask(date'2020-07-30', 'x', 'x', 'x', -1, '1', 1, 0, -1)")
      .toString == "2020-01-01")
    assert(sql1("select mask(timestamp'2022-12-15 12:11:09', 'x', 'x', 'x', -1, '1', 1, 0, -1)")
      .toString == "2022-01-01")
  }
}
