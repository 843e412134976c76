package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkFunSuite
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The mask kernel ([[MaskRegion]]) against a test-local copy of the
  * composed Catalyst expressions the mask family was built from before it
  * (`Mask`/`Substring`/`Concat`/`StringRepeat`), with `n` clamped at 0.
  * Every form, over random ASCII, Latin-1, CJK, supplementary-character and
  * invalid UTF-8 values, the empty string and NULL, and over integral values
  * of every width; compared byte for byte, once with generated code only
  * (no interpreted fallback) and once interpreted only.
  */
class MaskKernelSpec extends SparkFunSuite {

  private val forms = Seq("mask_first_n", "mask_last_n", "mask_show_first_n", "mask_show_last_n")
  private val counts = Seq("-3", "-1", "0", "1", "4", "len", "len + 2", "nr")

  /** The composed forms, registered as `ref_<name>`. */
  private object Reference {
    private val MaxLen = Literal(Int.MaxValue)

    private def charArg(e: Expression): Expression = e match {
      case lit if lit.resolved && lit.foldable => lit.eval() match {
        case i: Int if i == -1 => Literal(null, StringType)
        case l: Long if l == -1L => Literal(null, StringType)
        case null => Literal(null, StringType)
        case _ => Cast(lit, StringType)
      }
      case other => Cast(other, StringType)
    }

    private def maskCore(s: Expression, chars: Seq[Expression]): Expression = Mask(s,
      chars.lift(0).map(charArg).getOrElse(Literal("X")),
      chars.lift(1).map(charArg).getOrElse(Literal("x")),
      chars.lift(2).map(charArg).getOrElse(Literal("n")),
      chars.lift(3).map(charArg).getOrElse(Literal(null, StringType)))

    private def lastNStart(s: Expression, n: Expression): Expression =
      Greatest(Seq(Add(Subtract(Length(s), n), Literal(1)), Literal(1)))

    private def isIntegral(e: Expression): Boolean = e.resolved && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

    private def numberCharOf(e: Option[Expression]): String = e match {
      case Some(lit) if lit.resolved && lit.foldable => lit.eval() match {
        case i: Int if i >= 0 && i <= 9 => i.toString
        case l: Long if l >= 0 && l <= 9 => l.toString
        case u: UTF8String if u.numChars == 1 && u.toString.head.isDigit => u.toString
        case _ => "1"
      }
      case _ => "1"
    }

    private def numericMask(n: Expression, ncStr: String)(
        f: (Expression, Expression, Expression) => Expression): Expression = {
      val str = Cast(n, StringType)
      val neg = StartsWith(str, Literal("-"))
      val d = If(neg, Substring(str, Literal(2), MaxLen), str)
      val masked = f(d, Length(d), Literal(ncStr))
      Cast(If(neg, Concat(Seq(Literal("-"), masked)), masked), n.dataType, None, EvalMode.TRY)
    }

    private def mask(args: Seq[Expression]): Expression = args match {
      case s +: chars if isIntegral(s) =>
        numericMask(s, numberCharOf(chars.lift(4)))((_, len, nc) => StringRepeat(nc, len))
      case s +: chars => maskCore(Cast(s, StringType), chars)
    }

    private def clampedN(args: Seq[Expression]) =
      Greatest(Seq(args.lift(1).getOrElse(Literal(4)), Literal(0)))

    private def firstN(args: Seq[Expression]): Expression = {
      val (n, chars) = (clampedN(args), args.drop(2))
      if (isIntegral(args.head))
        numericMask(args.head, numberCharOf(chars.lift(4))) { (d, len, nc) =>
          Concat(Seq(StringRepeat(nc, Least(Seq(n, len))), Substring(d, Add(n, Literal(1)), MaxLen)))
        }
      else {
        val s = Cast(args.head, StringType)
        Concat(Seq(maskCore(Substring(s, Literal(1), n), chars),
          Substring(s, Add(n, Literal(1)), MaxLen)))
      }
    }

    private def lastN(args: Seq[Expression]): Expression = {
      val (n, chars) = (clampedN(args), args.drop(2))
      if (isIntegral(args.head))
        numericMask(args.head, numberCharOf(chars.lift(4))) { (d, len, nc) =>
          Concat(Seq(Substring(d, Literal(1), Subtract(len, n)), StringRepeat(nc, Least(Seq(n, len)))))
        }
      else {
        val s = Cast(args.head, StringType)
        Concat(Seq(Substring(s, Literal(1), Subtract(Length(s), n)),
          maskCore(Substring(s, lastNStart(s, n), MaxLen), chars)))
      }
    }

    private def showFirstN(args: Seq[Expression]): Expression = {
      val (n, chars) = (clampedN(args), args.drop(2))
      if (isIntegral(args.head))
        numericMask(args.head, numberCharOf(chars.lift(4))) { (d, len, nc) =>
          Concat(Seq(Substring(d, Literal(1), n),
            StringRepeat(nc, Greatest(Seq(Subtract(len, n), Literal(0))))))
        }
      else {
        val s = Cast(args.head, StringType)
        Concat(Seq(Substring(s, Literal(1), n),
          maskCore(Substring(s, Add(n, Literal(1)), MaxLen), chars)))
      }
    }

    private def showLastN(args: Seq[Expression]): Expression = {
      val (n, chars) = (clampedN(args), args.drop(2))
      if (isIntegral(args.head))
        numericMask(args.head, numberCharOf(chars.lift(4))) { (d, len, nc) =>
          Concat(Seq(StringRepeat(nc, Greatest(Seq(Subtract(len, n), Literal(0)))),
            Substring(d, lastNStart(d, n), MaxLen)))
        }
      else {
        val s = Cast(args.head, StringType)
        Concat(Seq(maskCore(Substring(s, Literal(1), Subtract(Length(s), n)), chars),
          Substring(s, lastNStart(s, n), MaxLen)))
      }
    }

    def register(s: SparkSession): Unit = Seq[(String, Seq[Expression] => Expression)](
      "mask" -> mask, "mask_first_n" -> firstN, "mask_last_n" -> lastN,
      "mask_show_first_n" -> showFirstN, "mask_show_last_n" -> showLastN
    ).foreach { case (name, b) =>
      s.sessionState.functionRegistry.createOrReplaceTempFunction(s"ref_$name", b, "scala_udf")
    }
  }

  /** A fresh session with both families registered, evaluating either
    * through generated code only or interpreted only.
    */
  private def session(mode: String): SparkSession = {
    val s = spark.newSession()
    MaskFunctions.register(s)
    Reference.register(s)
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    if (mode == "CODEGEN_ONLY") s.conf.set("spark.sql.codegen.fallback", "false")
    else s.conf.set("spark.sql.codegen.wholeStage", "false")
    s
  }

  // value pieces: each piece is whole, so a multi-byte lead is always
  // followed by as many bytes as it claims (UTF8String.substring copies
  // the claimed length, and a lead truncated at the very end would read
  // past the value in both the kernel and the composed form)
  private val ascii = (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ " -_.#@~\t\u0001").map(_.toString)
  private val latin1 = "éÉßñÑäÄøØ¿çÇ".map(_.toString)
  private val cjk = "中文字漢語日本語한국어".map(_.toString)
  private val supplementary = Seq("😀", "🎉", "𝔸", "𝟙")
  private val invalid: Seq[Array[Byte]] = Seq(Array(0x80), Array(0xBF), Array(0xC0), Array(0xFF),
    Array(0xE2, 'a', 'b'), Array(0xF0, 0x9F, 'x', 'y'), Array(0xED, 0xA0, 0x80)).map(_.map(_.toByte))

  private def randomValue(rnd: scala.util.Random): Array[Byte] = {
    val kinds: Seq[() => Array[Byte]] = rnd.nextInt(6) match {
      case 0 | 1 => Seq(() => ascii(rnd.nextInt(ascii.size)).getBytes(UTF_8))
      case 2 => Seq(ascii, latin1).map(p => () => p(rnd.nextInt(p.size)).getBytes(UTF_8))
      case 3 => Seq(ascii, cjk, supplementary).map(p => () => p(rnd.nextInt(p.size)).getBytes(UTF_8))
      case 4 => Seq(() => ascii(rnd.nextInt(ascii.size)).getBytes(UTF_8),
        () => invalid(rnd.nextInt(invalid.size)))
      case _ => Seq(ascii, latin1, cjk, supplementary).map(p => () => p(rnd.nextInt(p.size)).getBytes(UTF_8)) :+
        (() => invalid(rnd.nextInt(invalid.size)))
    }
    Array.fill(rnd.nextInt(25))(kinds(rnd.nextInt(kinds.size))()).flatten
  }

  private lazy val inputs: Seq[Row] = {
    val rnd = new scala.util.Random(20)
    def pick[T](edges: Seq[T], random: => T): T =
      if (rnd.nextInt(4) == 0) edges(rnd.nextInt(edges.size)) else random
    (0 until 400).map { id =>
      val bytes = if (id == 0) null else if (id == 1) Array.emptyByteArray else randomValue(rnd)
      val len = if (bytes == null) 0 else UTF8String.fromBytes(bytes).numChars
      def orNull[T](v: T): Any = if (rnd.nextInt(20) == 0) null else v
      Row(id, bytes, len, rnd.nextInt(len + 7) - 3,
        orNull(pick(Seq(Byte.MinValue, Byte.MaxValue, 0.toByte, -1.toByte), rnd.nextInt(256).toByte)),
        orNull(pick(Seq(Short.MinValue, Short.MaxValue, 9999.toShort), rnd.nextInt(65536).toShort)),
        orNull(pick(Seq(Int.MinValue, Int.MaxValue, 999999999, -7), rnd.nextInt())),
        orNull(pick(Seq(Long.MinValue, Long.MaxValue, 999999999999999999L, 0L),
          rnd.nextLong() >> rnd.nextInt(64))))
    }
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("b", BinaryType),
    StructField("len", IntegerType), StructField("nr", IntegerType),
    StructField("t", ByteType), StructField("sm", ShortType),
    StructField("i", IntegerType), StructField("l", LongType)))

  /** Every call against its `ref_` twin over the inputs, `s` being the
    * value as a string; an RDD source, so no projection is folded away by
    * the optimizer. `asBytes` compares strings as bytes: a String would
    * hide differences in invalid UTF-8.
    */
  private def mismatches(s: SparkSession, calls: Seq[String],
      asBytes: Boolean = false): Seq[String] = {
    s.createDataFrame(s.sparkContext.parallelize(inputs, 2), schema)
      .selectExpr("*", "CAST(b AS STRING) AS s")
      .createOrReplaceTempView("mask_inputs")
    def col(c: String) = if (asBytes) s"CAST($c AS BINARY)" else c
    val cols = calls.flatMap(c => Seq(col(c), col(s"ref_$c")))
    val rows = s.sql(s"SELECT id, ${cols.mkString(", ")} FROM mask_inputs").collect()
    def show(v: Any): String = v match {
      case a: Array[Byte] => a.map(b => f"$b%02x").mkString
      case other => String.valueOf(other)
    }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case _ => a == b
    }
    for {
      row <- rows.toSeq
      (call, i) <- calls.zipWithIndex
      (got, want) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      if !same(got, want)
    } yield s"${call}: id=${row.getInt(0)} got=${show(got)} want=${show(want)}"
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"string forms match the composed reference byte for byte ($mode)") {
      val s = session(mode)
      // the inputs do reach the kernel as invalid UTF-8
      s.createDataFrame(s.sparkContext.parallelize(inputs, 2), schema).createOrReplaceTempView("raw")
      assert(s.sql("SELECT count(*) FROM raw WHERE NOT is_valid_utf8(CAST(b AS STRING))")
        .head().getLong(0) > 20)
      val charSets = Seq("", ", -1, -1, -1, -1", ", 'U', 'l', '#', '*'", ", 'é', -1, '😀', 'ñ'")
      val bad = charSets.flatMap { cs =>
        val calls = s"mask(s$cs)" +: (for (f <- forms; n <- counts) yield s"$f(s, $n$cs)")
        mismatches(s, calls, asBytes = true)
      }
      assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
    }

    test(s"integral forms match the composed reference ($mode)") {
      val s = session(mode)
      val bad = Seq("", ", 'x', 'x', 'x', -1, '9'", ", 'x', 'x', 'x', -1, '0'",
          ", 'x', 'x', 'x', -1, 5", ", 'x', 'x', 'x', -1, 'z'").flatMap { nc =>
        val calls = Seq("t", "sm", "i", "l").flatMap { x =>
          val digits = s"length(replace(CAST($x AS STRING), '-', ''))"
          val ns = counts.map(_.replace("len", digits))
          s"mask($x$nc)" +: (for (f <- forms; n <- ns) yield s"$f($x, $n$nc)")
        }
        mismatches(s, calls)
      }
      assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
    }
  }

  test("integral edges: sign kept, all-9s overflow to NULL, Long.MinValue") {
    val s = session("CODEGEN_ONLY")
    def one(q: String): Any = s.sql(s"SELECT $q").head().get(0)
    val min = s"CAST('${Long.MinValue}' AS BIGINT)"
    assert(one(s"mask($min, 'x', 'x', 'x', -1, '1')") == -1111111111111111111L)
    assert(one(s"mask($min, 'x', 'x', 'x', -1, '9')") == null)
    // 18 digits shown, the 19th masked to 9: -9223372036854775809 overflows
    assert(one(s"mask_show_first_n($min, 18, 'x', 'x', 'x', -1, '9')") == null)
    assert(one(s"mask_show_first_n($min, 18, 'x', 'x', 'x', -1, '7')") == -9223372036854775807L)
    assert(one("mask(cast(127 as tinyint), 'x', 'x', 'x', -1, '9')") == null)
    assert(one("mask_last_n(cast(-128 as tinyint), 1, 'x', 'x', 'x', -1, '7')") == (-127).toByte)
  }

  test("the input's bytes are never written, interpreted or generated") {
    for (value <- Seq("Hello-World 1234", "Hello-World 1234 ünï"); fn <- "mask" +: forms;
         chars <- Seq(Literal("X"), Literal("é"))) {
      val original = value.getBytes(UTF_8)
      // fromBytes wraps the array itself: getBytes() would return it
      val bytes = original.clone()
      val row = InternalRow(UTF8String.fromBytes(bytes))
      val e = MaskRegion(BoundReference(0, StringType, nullable = true), Literal(3), fn,
        numeric = false, chars, Literal("x"), Literal("n"), Literal(null, StringType))
      val interpreted = e.eval(row)
      val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(row).getUTF8String(0)
      assert(interpreted == generated, fn)
      assert(java.util.Arrays.equals(bytes, original), s"$fn wrote into its input")
    }
  }

  test("bad mask chars fail at analysis with the composed form's error class") {
    val s = session("CODEGEN_ONLY")
    s.sql("SELECT 'abc' AS v, 'q' AS c").createOrReplaceTempView("one")
    def condition(q: String): String =
      intercept[AnalysisException](s.sql(q).queryExecution.assertAnalyzed()).getCondition
    for (fn <- "mask" +: forms) {
      val n = if (fn == "mask") "" else "2, "
      for ((args, want) <- Seq(
          s"${n}c" -> "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
          s"$n'xx'" -> "DATATYPE_MISMATCH.INPUT_SIZE_NOT_ONE")) {
        assert(condition(s"SELECT $fn(v, $args) FROM one") == want, s"$fn(v, $args)")
        assert(condition(s"SELECT ref_$fn(v, $args) FROM one") == want, s"ref_$fn(v, $args)")
      }
    }
  }
}
