package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, MapFromArrays, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `decode_events(p, pkCols)`: one wal2json change → its merge events,
  * as one compiled call per change row (the [[CollapseEventsExpression]]
  * pattern: a static call inlined into whole-stage codegen).
  *
  * Input: the parsed change struct `p` with at least `kind`,
  * `columnnames`, `columnvalues` and `oldkeys{keynames, keyvalues}`
  * (fields found by name, so the v1, v2-normalized and envelope shapes
  * all fit). Output: `array<struct<sub: int, op: string,
  * key: array<string>, vals: map<string,string>>>`, empty for a kind
  * other than insert/update/delete:
  *  - insert → `row(newKey, vals)`;
  *  - delete → `del(oldKey, null)`;
  *  - update whose new values carry every PK column with some value
  *    differing from `oldkeys` → `del(oldKey, null)` sub 0 +
  *    `row(newKey, vals)` sub 1;
  *  - any other update → `patch(key, vals)`, keyed by `oldkeys`, or
  *    by the new values when `oldkeys` is null.
  * `vals` is `map_from_arrays(columnnames, columnvalues)` and the old
  * map the same over `oldkeys` — built by Spark's own [[MapFromArrays]]
  * at most once each, and only for the kinds that read them, so a
  * malformed column list fails exactly as `map_from_arrays` fails it.
  * A PK column missing from its map yields a null key element.
  */
final case class DecodeEventsExpression(child: Expression, pkCols: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (DecodeEventsExpression.ordinals(child.dataType).nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "decode_events requires struct<kind: string, columnnames: array<string>, " +
        "columnvalues: array<string>, oldkeys: struct<keynames: array<string>, " +
        s"keyvalues: array<string>>>, got ${child.dataType.sql}")

  override def dataType: DataType = DecodeEventsExpression.eventsType

  // (kind, columnnames, columnvalues, oldkeys, keynames, keyvalues)
  @transient private lazy val (iKind, iNames, iValues, iOld, iOldNames, iOldValues) =
    DecodeEventsExpression.ordinals(child.dataType).get
  @transient private lazy val nOld =
    child.dataType.asInstanceOf[StructType](iOld).dataType.asInstanceOf[StructType].length
  @transient private lazy val pk: Array[UTF8String] =
    pkCols.map(UTF8String.fromString).toArray
  // map_from_arrays itself: same length check, null-key and
  // duplicate-key policy, same error classes
  @transient private lazy val mapFromArrays = MapFromArrays(
    BoundReference(0, ArrayType(StringType), nullable = true),
    BoundReference(1, ArrayType(StringType), nullable = true))

  private def toMap(names: ArrayData, values: ArrayData): MapData =
    if (names == null || values == null) null
    else mapFromArrays.eval(new GenericInternalRow(Array[Any](names, values)))
      .asInstanceOf[MapData]

  /** `transform(pkCols, c -> element_at(m, c))`. */
  private def keyOf(m: MapData): ArrayData = {
    val out = new Array[Any](pk.length)
    if (m != null) {
      val ks = m.keyArray()
      val vs = m.valueArray()
      var c = 0
      while (c < pk.length) {
        var j = 0
        while (j < ks.numElements()) {
          if (ks.getUTF8String(j) == pk(c)) {
            if (!vs.isNullAt(j)) out(c) = vs.getUTF8String(j)
            j = ks.numElements()
          }
          j += 1
        }
        c += 1
      }
    }
    new GenericArrayData(out)
  }

  private def event(sub: Int, op: UTF8String, key: ArrayData, vals: MapData) =
    new GenericInternalRow(Array[Any](sub, op, key, vals))

  /** The decode, on one parsed change. */
  def decode(p: InternalRow): ArrayData = {
    import DecodeEventsExpression._
    val kind = if (p.isNullAt(iKind)) null else p.getUTF8String(iKind)
    def arr(i: Int) = if (p.isNullAt(i)) null else p.getArray(i)
    lazy val vals = toMap(arr(iNames), arr(iValues))
    val hasOld = !p.isNullAt(iOld)
    lazy val oldm = if (!hasOld) null else {
      val o = p.getStruct(iOld, nOld)
      toMap(if (o.isNullAt(iOldNames)) null else o.getArray(iOldNames),
        if (o.isNullAt(iOldValues)) null else o.getArray(iOldValues))
    }
    val out: Array[Any] =
      if (kind == INSERT) Array(event(0, ROW, keyOf(vals), vals))
      else if (kind == DELETE) Array(event(0, DEL, keyOf(oldm), null))
      else if (kind == UPDATE) {
        val newKey = keyOf(vals)
        val oldKey = if (hasOld) keyOf(oldm) else null
        // every new PK value present and some `!(new <=> old)`
        val changed = hasOld &&
          (0 until pk.length).forall(!newKey.isNullAt(_)) &&
          (0 until pk.length).exists(c =>
            oldKey.isNullAt(c) || oldKey.getUTF8String(c) != newKey.getUTF8String(c))
        if (changed) Array(event(0, DEL, oldKey, null), event(1, ROW, newKey, vals))
        else Array(event(0, PATCH, if (hasOld) oldKey else newKey, vals))
      } else Array.empty
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = decode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("decodeEvents", this,
      classOf[DecodeEventsExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.decode($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "decode_events"
}

object DecodeEventsExpression {
  private val INSERT = UTF8String.fromString("insert")
  private val UPDATE = UTF8String.fromString("update")
  private val DELETE = UTF8String.fromString("delete")
  private val ROW = UTF8String.fromString("row")
  private val PATCH = UTF8String.fromString("patch")
  private val DEL = UTF8String.fromString("del")

  /** Field ordinals of the change struct, by name; None if a field is
    * missing or mistyped. */
  private def ordinals(dt: DataType): Option[(Int, Int, Int, Int, Int, Int)] = {
    def at(st: StructType, f: String, ok: DataType => Boolean) =
      st.fields.indexWhere(_.name == f) match {
        case -1 => None
        case i => Some(i).filter(_ => ok(st(i).dataType))
      }
    val strings: DataType => Boolean = {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    dt match {
      case st: StructType => for {
        k <- at(st, "kind", _ == StringType)
        n <- at(st, "columnnames", strings)
        v <- at(st, "columnvalues", strings)
        o <- at(st, "oldkeys", _.isInstanceOf[StructType])
        old = st(o).dataType.asInstanceOf[StructType]
        on <- at(old, "keynames", strings)
        ov <- at(old, "keyvalues", strings)
      } yield (k, n, v, o, on, ov)
      case _ => None
    }
  }

  val eventsType: ArrayType = ArrayType(StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("key", ArrayType(StringType), nullable = false),
    StructField("vals", MapType(StringType, StringType), nullable = true))),
    containsNull = false)
}
