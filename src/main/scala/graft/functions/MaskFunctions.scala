package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The Hive mask scalar-function family with character-exact semantics
  * (goldens: /root/reference/src/test/java/com/hw/security/flink/common/CommonTest.java:78-93,
  * execute/ExecuteDataMaskTest.java:71-102).
  *
  * `mask`, `mask_first_n`, `mask_last_n`, `mask_show_first_n` and
  * `mask_show_last_n` all build one expression, [[MaskRegion]]: a single
  * pass over the value that masks one region of it (the whole value, or the
  * first/last n code points, or all but those) and keeps the rest. It has
  * real codegen, so masked projections stay inside whole-stage codegen with
  * no UDF boxing and no per-character allocation. `mask_hash` is Spark's
  * `Sha2` (already lowercase hex) and the date variant is
  * `MakeDate`/`Year`/`Month`/`DayOfMonth`.
  *
  * Semantics implemented (from the reference's golden strings):
  *   - mask(s[,u,l,d,o]): upper->u ('X'), lower->l ('x'), digit->d ('n'),
  *     other->o (-1 = retain).
  *   - mask(s,u,l,d,o,num,day,month,year): date variant — component values of
  *     -1 mean "keep"; `month` is 0-based when set (Hive quirk); returns DATE.
  *   - mask_first_n(s, n=4, ...): mask the first n chars, retain the rest.
  *   - mask_last_n(s, n=4, ...): retain all but the last n chars.
  *   - mask_show_first_n(s, n=4, ...): retain the first n chars, mask rest.
  *   - mask_show_last_n(s, n=4, ...): mask all but the last n chars.
  *   - mask_hash(s): lowercase sha256 hex digest.
  *
  * A negative n counts as 0, as Hive clamps `charCount < 0`: `mask_first_n`
  * and `mask_last_n` then mask nothing, the `show` forms mask everything.
  * A NULL n gives NULL.
  *
  * Numeric inputs (Hive's `numberChar` behavior, unexercised by the
  * reference's own tests): for integral-typed inputs every digit in the
  * masked region is replaced by `numberChar` (a single digit, default '1';
  * Hive falls back to 1 for non-digit values), the sign is preserved, digit
  * count is preserved, and the ORIGINAL numeric type is returned (a masked
  * BIGINT stays a BIGINT). The n window of the *_n variants counts digits,
  * not characters — the sign does not occupy a position. An all-9s mask of a
  * 19-digit long can exceed Long.MaxValue; the TRY-mode cast back yields
  * NULL rather than a wrapped or throwing result. `numberChar` on STRING
  * inputs is accepted-and-ignored exactly as in Hive (digits in strings use
  * the `digit` char argument instead).
  */
object MaskFunctions {

  // Hive char-args may be 1-char strings or the int -1 meaning "retain".
  // Spark's Mask uses NULL for "retain".
  private def charArg(e: Expression): Expression = e match {
    case lit if lit.resolved && lit.foldable =>
      val v = lit.eval()
      v match {
        case i: Int if i == -1 => Literal(null, StringType)
        case l: Long if l == -1L => Literal(null, StringType)
        case null => Literal(null, StringType)
        case _ => Cast(lit, StringType)
      }
    case other => Cast(other, StringType)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case lit if lit.resolved && lit.foldable =>
      lit.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(s"$what must be a literal")
  }

  private def isIntegral(e: Expression): Boolean = e.resolved && (e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  })

  /** Hive numberChar: a single digit; anything else falls back to '1'. */
  private def numberCharOf(e: Option[Expression]): String = e match {
    case Some(lit) if lit.resolved && lit.foldable =>
      lit.eval() match {
        case i: Int if i >= 0 && i <= 9 => i.toString
        case l: Long if l >= 0 && l <= 9 => l.toString
        case u: UTF8String if u.numChars == 1 && u.toString.head.isDigit => u.toString
        case _ => "1"
      }
    case _ => "1"
  }

  /** `fn(value, n, chars...)` as one [[MaskRegion]]. Integral values mask
    * their decimal digits with `numberChar` (the sign outside the region) and
    * cast back to their own type in TRY mode (an all-9s 19-digit long can
    * overflow — NULL beats a wrapped value under a masking policy); anything
    * else is masked as a string with the u/l/d/o chars (defaults X/x/n/retain).
    */
  private def region(fn: String, value: Expression, n: Expression,
      chars: Seq[Expression]): Expression = {
    val count = if (n.resolved && n.dataType != IntegerType) Cast(n, IntegerType) else n
    val retain = Literal(null, StringType)
    if (isIntegral(value)) {
      val digits = MaskRegion(Cast(value, StringType), count, fn, numeric = true,
        retain, retain, Literal(numberCharOf(chars.lift(4))), retain)
      Cast(digits, value.dataType, None, EvalMode.TRY)
    } else {
      def char(i: Int, default: Expression) = chars.lift(i).map(charArg).getOrElse(default)
      // numberChar (5th) ignored for strings, as in Hive
      MaskRegion(Cast(value, StringType), count, fn, numeric = false,
        char(0, Literal("X")), char(1, Literal("x")), char(2, Literal("n")), char(3, retain))
    }
  }

  def maskBuilder(args: Seq[Expression]): Expression = args match {
    // date variant: mask(col, u, l, d, o, num, day, month, year)
    case Seq(c, _, _, _, _, _, dayE, monthE, yearE) =>
      val (day, month, year) =
        (intLit(dayE, "day"), intLit(monthE, "month"), intLit(yearE, "year"))
      val col = Cast(c, DateType)
      val y = if (year == -1) Year(col) else Literal(year)
      val m = if (month == -1) Month(col) else Literal(month + 1) // Hive month arg is 0-based
      val d = if (day == -1) DayOfMonth(col) else Literal(day)
      MakeDate(y, m, d)
    case s +: chars if chars.length <= 5 => region("mask", s, Literal(0), chars)
    case _ => throw new IllegalArgumentException(
      s"mask expects 1-6 or 9 arguments, got ${args.length}")
  }

  /** The four `_n` forms: `fn(value, n = 4, chars...)`. */
  private def nForm(fn: String)(args: Seq[Expression]): Expression =
    region(fn, args.head, args.lift(1).getOrElse(Literal(4)), args.drop(2))

  /** mask_hash: lowercase sha256 hex (CommonTest.java:84-85). */
  def maskHash(args: Seq[Expression]): Expression =
    Sha2(Cast(args.head, BinaryType), Literal(256))

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "mask" -> maskBuilder _, // extends the builtin with the 9-arg date form
    "mask_first_n" -> nForm("mask_first_n") _,
    "mask_last_n" -> nForm("mask_last_n") _,
    "mask_show_first_n" -> nForm("mask_show_first_n") _,
    "mask_show_last_n" -> nForm("mask_show_last_n") _,
    "mask_hash" -> maskHash _
  )

  /** Register the family in the session's FunctionRegistry so they resolve in
    * SQL text and in policy transformer templates.
    */
  // sessions already registered — "mask" must REPLACE the narrower builtin
  // (a functionExists check would see the builtin and skip), but replacing it
  // on every call logs a "function replaced" warning per call. Weak keys: the
  // guard must not pin a stopped session in memory.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) {
      val registry = spark.sessionState.functionRegistry
      builders.foreach { case (name, b) =>
        registry.createOrReplaceTempFunction(name, b, "scala_udf")
      }
    }
}

/** The mask kernel behind `fn` (one of `mask`, `mask_first_n`,
  * `mask_last_n`, `mask_show_first_n`, `mask_show_last_n`): masks one region
  * of the string `input`, measured in code points, and keeps the rest.
  *
  *   - The region is the whole value for `mask` (whose `n` is 0), else the
  *     first or last `n` code points or all but those, with `n` clamped to
  *     [0, length].
  *   - With `numeric`, `input` is an integral value's decimal text and a
  *     leading '-' is outside the region, so `n` counts digits.
  *   - The mask chars (`upper`/`lower`/`digit`/`other`, NULL = retain) are
  *     foldable, as Spark's `Mask` requires; type checking goes through
  *     `Mask` over the same children, so bad chars fail with its errors.
  *     They are decoded once, into a translation table for ASCII bytes.
  *   - ASCII path: when the value's bytes are all below 0x80 and every mask
  *     char is ASCII, one loop maps the region's bytes through that table
  *     in a fresh `byte[]` (A-Z -> upper, a-z -> lower, 0-9 -> digit, rest
  *     -> other).
  *   - Any other value takes the exact path: the same library calls the
  *     composed form made (`numChars`/`substring` for the region,
  *     `Mask.transformInput` for the masked part), so non-ASCII output is
  *     byte-identical to Spark's `Mask`.
  *
  * The input's bytes are never written: `UTF8String.getBytes` may return
  * the backing array itself, so both paths copy before they mask.
  */
case class MaskRegion(
    input: Expression, n: Expression, fn: String, numeric: Boolean,
    upper: Expression, lower: Expression, digit: Expression, other: Expression)
    extends Expression {

  // the region is [0, split) when `head`, else [split, length); split is
  // n, or length - n when `fromEnd`
  private val head = fn == "mask_first_n" || fn == "mask_show_last_n"
  private val fromEnd = fn == "mask_last_n" || fn == "mask_show_last_n"

  override def children: Seq[Expression] = Seq(input, n, upper, lower, digit, other)
  override def dataType: DataType = StringType
  override def nullable: Boolean = input.nullable || n.nullable
  override def prettyName: String = fn

  override def checkInputDataTypes(): TypeCheckResult = {
    val chars = Mask(input, upper, lower, digit, other).checkInputDataTypes()
    if (chars.isFailure) chars
    else if (n.dataType != IntegerType) TypeCheckResult.TypeCheckFailure(
      s"$fn expects an integer n, got ${n.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val chars: Array[UTF8String] =
    Array(upper, lower, digit, other).map(_.eval().asInstanceOf[UTF8String])
  @transient private lazy val table: Array[Byte] = MaskRegion.asciiTable(chars)

  /** The registered call's arguments: the value, `n` unless `mask`, the
    * mask chars (integral values: four retains and `numberChar`).
    */
  def callArgs: Seq[Expression] = {
    val value = input match {
      case c: Cast => c.child
      case v => v
    }
    val retain = Literal(null, StringType)
    val maskChars =
      if (numeric) Seq(retain, retain, retain, retain, digit) else Seq(upper, lower, digit, other)
    value +: ((if (fn == "mask") Nil else Seq(n)) ++ maskChars)
  }

  override def sql: String = s"$fn(${callArgs.map(_.sql).mkString(", ")})"

  override def eval(row: InternalRow): Any = {
    val s = input.eval(row).asInstanceOf[UTF8String]
    if (s == null) return null
    val count = n.eval(row)
    if (count == null) return null
    val nb = s.numBytes
    var out: Array[Byte] = null
    var ascii = false
    if (table != null) {
      out = new Array[Byte](nb)
      s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET)
      var acc = 0
      var i = 0
      while (i < nb) { acc |= out(i); i += 1 }
      ascii = acc >= 0
    }
    val len = if (ascii) nb else s.numChars
    val base = if (numeric && nb > 0 &&
      Platform.getByte(s.getBaseObject, s.getBaseOffset) == '-') 1 else 0
    val k = math.min(math.max(count.asInstanceOf[Int], 0), len - base)
    val split = if (fromEnd) len - base - k else k
    val from = base + (if (head) 0 else split)
    val to = if (head) base + split else len
    if (ascii) {
      var i = from
      while (i < to) { out(i) = table(out(i)); i += 1 }
      UTF8String.fromBytes(out)
    } else MaskRegion.exact(s, from, to, len, chars)
  }

  // mirrors eval line for line; the table and the decoded chars are
  // reference objects, and a non-ASCII mask char drops the ASCII path
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = input.genCode(ctx)
    val c = n.genCode(ctx)
    val charsRef = ctx.addReferenceObj("maskChars", chars, "UTF8String[]")
    val Seq(str, nb, out, ascii, acc, i, len, base, k, split, from, to, tbl) = Seq(
      "str", "nb", "out", "ascii", "acc", "i", "len", "base", "k", "split", "from", "to", "tbl")
      .map(ctx.freshName)
    val platform = classOf[Platform].getName
    val scan = if (table == null) "" else
      s"""
         |$out = new byte[$nb];
         |$str.writeToMemory($out, $platform.BYTE_ARRAY_OFFSET);
         |int $acc = 0;
         |for (int $i = 0; $i < $nb; $i++) { $acc |= $out[$i]; }
         |$ascii = $acc >= 0;
       """.stripMargin
    val baseCode = if (!numeric) "0" else
      s"($nb > 0 && $platform.getByte($str.getBaseObject(), $str.getBaseOffset()) == '-') ? 1 : 0"
    val mapLoop = if (table == null) "" else {
      val tableRef = ctx.addReferenceObj("maskTable", table, "byte[]")
      s"""
         |if ($ascii) {
         |  final byte[] $tbl = $tableRef;
         |  for (int $i = $from; $i < $to; $i++) { $out[$i] = $tbl[$out[$i]]; }
         |  ${ev.value} = UTF8String.fromBytes($out);
         |} else
       """.stripMargin
    }
    ev.copy(code = code"""
      |${s.code}
      |${c.code}
      |boolean ${ev.isNull} = ${s.isNull} || ${c.isNull};
      |UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  final UTF8String $str = ${s.value};
      |  final int $nb = $str.numBytes();
      |  byte[] $out = null;
      |  boolean $ascii = false;
      |  $scan
      |  final int $len = $ascii ? $nb : $str.numChars();
      |  final int $base = $baseCode;
      |  final int $k = java.lang.Math.min(java.lang.Math.max(${c.value}, 0), $len - $base);
      |  final int $split = ${if (fromEnd) s"$len - $base - $k" else k};
      |  final int $from = $base + ${if (head) "0" else split};
      |  final int $to = ${if (head) s"$base + $split" else len};
      |  $mapLoop
      |  {
      |    ${ev.value} = ${classOf[MaskRegion].getName}.exact($str, $from, $to, $len, $charsRef);
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MaskRegion = {
    val Seq(i, c, u, l, d, o) = newChildren
    copy(input = i, n = c, upper = u, lower = l, digit = d, other = o)
  }
}

object MaskRegion {

  /** Byte -> masked byte for every ASCII byte, under `chars` (upper, lower,
    * digit, other; null = retain); null when a mask char is not ASCII.
    */
  private def asciiTable(chars: Array[UTF8String]): Array[Byte] =
    if (chars.exists(c => c != null && !(c.numBytes == 1 && c.getBytes()(0) >= 0))) null
    else Array.tabulate[Byte](128) { b =>
      val cls = if (b >= 'A' && b <= 'Z') 0 else if (b >= 'a' && b <= 'z') 1
        else if (b >= '0' && b <= '9') 2 else 3
      if (chars(cls) == null) b.toByte else chars(cls).getBytes()(0)
    }

  /** Code points [from, to) of `s` (`len` of them) through Spark's own
    * `Mask.transformInput`, the rest kept: the composed form's exact output.
    */
  def exact(s: UTF8String, from: Int, to: Int, len: Int,
      chars: Array[UTF8String]): UTF8String = {
    def transform(v: UTF8String) = Mask.transformInput(v, chars(0), chars(1), chars(2), chars(3))
    if (from == 0 && to == len) transform(s)
    else UTF8String.concat(
      s.substring(0, from), transform(s.substring(from, to)), s.substring(to, Int.MaxValue))
  }
}
