package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The comma-joined id field of the string record model: token ids, segment
  * ids and loss masks travel between TokenizeIds, PackRows, PackedShards and
  * the PackedCorpus input as `"5,17,2"` / `"1,0,1"`. Both directions live
  * here, and neither runs a per-element lambda:
  *  - join: the built-in, codegen'd `array_join` over an array cast (masks
  *    cast to int first, so they join as 1/0);
  *  - split: one [[SplitIds]] walk, which fails loudly on an entry the
  *    string cast rejects instead of handing the packer a null that
  *    unboxes to token 0.
  * `IdFieldSpec` pins both equal to [[Composed]] on every entry the cast
  * accepts, under codegen and interpreted evaluation.
  */
object IdField {

  /** `[5, 17, 2]` → `"5,17,2"`; null elements are skipped, a null array
    * stays null.
    */
  def join(ids: Column): Column = array_join(ids.cast("array<string>"), ",")

  /** `[true, false]` → `"1,0"`. */
  def joinMask(mask: Column): Column = join(mask.cast("array<int>"))

  /** `"5,,17"` → `[5, 17]` (empty entries are dropped); an entry the int
    * cast rejects fails the task, naming `field` and the entry.
    */
  def split(ids: Column, field: String): Column = splitAs(ids, IntegerType, field)

  /** `"1,0,true"` → `[true, false, true]` under the boolean string cast
    * (`t`/`yes`/`n`/… accepted); a rejected entry fails as in [[split]].
    */
  def splitMask(mask: Column, field: String): Column = splitAs(mask, BooleanType, field)

  /** An all-true mask aligned with `ids` (every token trains); null ids →
    * null.
    */
  def trueMask(ids: Column): Column =
    when(ids.isNotNull, array_repeat(lit(true), size(ids)))

  private def splitAs(c: Column, t: DataType, field: String): Column =
    GraftShims.toColumn(SplitIds(GraftShims.toExpression(c), t, field))

  /** The composed forms the codec replaces, kept as the reference
    * `IdFieldSpec` pins it equal to. The split evaluates two higher-order
    * lambdas interpreted, row by row, and leaves a null where the cast
    * rejects an entry.
    */
  private[graft] object Composed {
    def join(ids: Column): Column = array_join(transform(ids, _.cast("string")), ",")

    def joinMask(mask: Column): Column =
      array_join(transform(mask, _.cast("int").cast("string")), ",")

    def split(c: Column, elementType: String): Column =
      transform(filter(org.apache.spark.sql.functions.split(c, ","), _ =!= ""),
        _.cast(elementType))
  }
}

/** `SplitIds(field)`: a comma-joined string → `array<int>` or
  * `array<boolean>`, in one walk over its UTF-8 bytes. Equal to
  * `transform(filter(split(s, ","), _ != ""), _.cast(t))` wherever that
  * cast accepts every entry: entries are the runs between commas, empty
  * ones are dropped, `-?[0-9]+` ints (and `0`/`1` masks) parse in place,
  * and any other entry goes through the same non-ANSI string cast. An
  * entry the cast rejects throws, naming `field` and the entry. Null
  * input → null.
  */
case class SplitIds(child: Expression, elementType: DataType, field: String)
    extends UnaryExpression {

  override def prettyName: String = "split_ids"
  override def checkInputDataTypes(): TypeCheckResult =
    if (elementType != IntegerType && elementType != BooleanType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName splits to int or boolean, not ${elementType.catalogString}")
    else QualityKernels.checkString(child, prettyName)
  override def dataType: DataType = ArrayType(elementType, containsNull = false)
  override def nullIntolerant: Boolean = true

  /** The string cast of the composed form, for the entries the fast paths
    * leave.
    */
  @transient private lazy val cast =
    Cast(BoundReference(0, StringType, nullable = true), elementType, None, EvalMode.LEGACY)

  private def slowCast(s: UTF8String, from: Int, to: Int): Any = {
    val entry = UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, to - from)
    val v = cast.eval(InternalRow(entry))
    if (v == null) throw new IllegalArgumentException(
      s"$field: entry '$entry' is not ${if (elementType == IntegerType) "an int id"
        else "a boolean mask entry"}")
    v
  }

  /** `s[from, to)` as `-?[0-9]+` within the int range, else the cast. */
  private def parseInt(s: UTF8String, from: Int, to: Int): Int = {
    val neg = s.getByte(from) == '-'
    var i = if (neg) from + 1 else from
    var v = 0L
    var fast = i < to
    while (fast && i < to) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9) fast = false
      else {
        v = v * 10 + d
        if (v > 2147483648L) fast = false
        i += 1
      }
    }
    if (neg) v = -v
    if (fast && v >= Int.MinValue && v <= Int.MaxValue) v.toInt
    else slowCast(s, from, to).asInstanceOf[Int]
  }

  private def parseBool(s: UTF8String, from: Int, to: Int): Boolean =
    if (to - from == 1 && s.getByte(from) == '1') true
    else if (to - from == 1 && s.getByte(from) == '0') false
    else slowCast(s, from, to).asInstanceOf[Boolean]

  def splitOf(s: UTF8String): ArrayData = {
    val n = s.numBytes
    var commas = 0
    var i = 0
    while (i < n) { if (s.getByte(i) == ',') commas += 1; i += 1 }
    val ints = if (elementType == IntegerType) new Array[Int](commas + 1) else null
    val bools = if (ints == null) new Array[Boolean](commas + 1) else null
    var k = 0
    var from = 0
    while (from <= n) {
      var to = from
      while (to < n && s.getByte(to) != ',') to += 1
      if (to > from) {
        if (ints != null) ints(k) = parseInt(s, from, to)
        else bools(k) = parseBool(s, from, to)
        k += 1
      }
      from = to + 1
    }
    if (ints != null) UnsafeArrayData.fromPrimitiveArray(ints, Platform.INT_ARRAY_OFFSET, k, 4)
    else UnsafeArrayData.fromPrimitiveArray(bools, Platform.BOOLEAN_ARRAY_OFFSET, k, 1)
  }

  override protected def nullSafeEval(input: Any): Any =
    splitOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("splitIds", this, classOf[SplitIds].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.splitOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SplitIds =
    copy(child = newChild)
}
