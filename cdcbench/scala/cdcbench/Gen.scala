package cdcbench

import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.types._

/** A replicated table's shape: columns, PK positions and how a fresh
  * value of each non-key column is drawn. */
final case class Shape(table: String, cols: IndexedSeq[(String, DataType)], pk: IndexedSeq[Int],
                       draw: (Int, SplittableRandom) => Any) {
  val schema: StructType = StructType(cols.map { case (n, t) => StructField(n, t) })
  val nonPk: IndexedSeq[Int] = cols.indices.filterNot(pk.contains)
  def names: IndexedSeq[String] = cols.map(_._1)
  def row(key: Vector[Any], rnd: SplittableRandom): Array[Any] = {
    val r = new Array[Any](cols.length)
    pk.zipWithIndex.foreach { case (ci, i) => r(ci) = key(i) }
    nonPk.foreach(ci => r(ci) = draw(ci, rnd))
    r
  }
}

object Shape {
  private def cents(rnd: SplittableRandom, lo: Int, hi: Int): Double =
    (lo + rnd.nextInt(hi - lo)) / 100.0
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val customer: Shape = Shape("customer", Vector(
    "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), Vector(0),
    (ci, rnd) => ci match {
      case 1 => f"Customer#${rnd.nextInt(1000000000)}%09d"
      case 2 => rnd.nextInt(25)
      case 3 => cents(rnd, -99999, 999999)
      case 4 => segments(rnd.nextInt(segments.length))
    })

  /** Key-unique projection of a lineitem-shaped table, composite PK. */
  val lineitem: Shape = Shape("lineitem", Vector(
    "l_orderkey" -> LongType, "l_linenumber" -> IntegerType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
    "l_linestatus" -> StringType), Vector(0, 1),
    (ci, rnd) => ci match {
      case 2 => rnd.nextInt(20000).toLong
      case 3 => rnd.nextInt(1000).toLong
      case 4 => (1 + rnd.nextInt(50)).toDouble
      case 5 => cents(rnd, 90000, 10000000)
      case 6 => rnd.nextInt(11) / 100.0
      case 7 => rnd.nextInt(9) / 100.0
      case 8 => "ANR".charAt(rnd.nextInt(3)).toString
      case 9 => "FO".charAt(rnd.nextInt(2)).toString
    })
}

/** One typed change as the generator made it. `seq` orders all
  * changes: `(ts, lsn)` both grow with it. `set` holds the column
  * values an insert or partial update carries (by column index). */
final case class Change(db: String, shape: Shape, kind: Char, key: Vector[Any],
                        set: Map[Int, Any], seq: Long, tsMicros: Long, slot: String) {
  def lsn: Long = Gen.lsnOf(seq)
  /** Column `ci` as this change carries it (key columns from the key). */
  def value(ci: Int): Any = set.getOrElse(ci, key(shape.pk.indexOf(ci)))
}

object Gen {
  val LsnBase: Long = 0x16B374D848L
  val TsBase: Long = 1700000000000000L // epoch µs
  def lsnOf(seq: Long): Long = LsnBase + seq * 64L
  /** The c_acctbal stale-slot updates set, outside the generated range. */
  val Poison: Double = -999999.0

  private def text(v: Any): String = v match {
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }
  private def json(fields: (String, Any)*): String =
    Jackson.mapper.writeValueAsString(ListMap(fields: _*))

  /** wal2json v1 payload of one change (values as JSON strings, the
    * `include-types=false` shape). */
  def payload(c: Change): String = {
    val s = c.shape
    val head = Seq("kind" -> (c.kind match { case 'i' => "insert"; case 'u' => "update"; case 'd' => "delete" }),
      "schema" -> "public", "table" -> s.table)
    val oldkeys = "oldkeys" -> ListMap("keynames" -> s.pk.map(s.names), "keyvalues" -> c.key.map(text))
    def cols(cis: Seq[Int]) = Seq("columnnames" -> cis.map(s.names), "columnvalues" -> cis.map(ci => text(c.value(ci))))
    c.kind match {
      case 'i' => json(head ++ cols(s.cols.indices): _*)
      case 'u' => json(head ++ cols(s.pk ++ c.set.keys.toSeq.sorted) :+ oldkeys: _*)
      case 'd' => json(head :+ oldkeys: _*)
    }
  }

  /** `ALTER TABLE … ADD COLUMN` as the DDL spool table carries it. */
  def ddlPayload(sql: String): String =
    json("kind" -> "insert", "schema" -> "public", "table" -> "sql_ddl_statements",
      "columnnames" -> Seq("current_query", "search_path", "command_tags"),
      "columnvalues" -> Seq(sql, "\"$user\", public", "{\"ALTER TABLE\"}"))

  /** Live-key set with O(1) uniform pick, add and remove. */
  final class KeySet {
    private val keys = mutable.ArrayBuffer.empty[Vector[Any]]
    private val pos = mutable.HashMap.empty[Vector[Any], Int]
    def size: Int = keys.size
    def contains(k: Vector[Any]): Boolean = pos.contains(k)
    def add(k: Vector[Any]): Unit = if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
    def remove(k: Vector[Any]): Unit = pos.remove(k).foreach { i =>
      val last = keys.remove(keys.size - 1)
      if (i < keys.size) { keys(i) = last; pos(last) = i }
    }
    def pick(rnd: SplittableRandom): Vector[Any] = keys(rnd.nextInt(keys.size))
    def toSeq: Seq[Vector[Any]] = keys.toSeq
  }

  /** A random non-empty subset of the non-key columns with fresh values. */
  def partial(s: Shape, rnd: SplittableRandom): Map[Int, Any] = {
    val n = 1 + rnd.nextInt(math.min(3, s.nonPk.size))
    val chosen = mutable.LinkedHashSet.empty[Int]
    while (chosen.size < n) chosen += s.nonPk(rnd.nextInt(s.nonPk.size))
    chosen.map(ci => ci -> s.draw(ci, rnd)).toMap
  }
  def fullRow(s: Shape, rnd: SplittableRandom): Map[Int, Any] =
    s.nonPk.map(ci => ci -> s.draw(ci, rnd)).toMap

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** The expected final state: base rows folded with the typed changes
  * in `(ts, lsn)` order — last writer per key, partial updates patch
  * only the columns they carry. Independent of the engine's decoder
  * and apply code. */
object Expected {
  def fold(base: Iterator[Array[Any]], shape: Shape, changes: Seq[Change]): Map[Vector[Any], Vector[Any]] = {
    val st = mutable.HashMap.empty[Vector[Any], Array[Any]]
    base.foreach(r => st(shape.pk.map(r(_)).toVector) = r.clone())
    changes.sortBy(c => (c.tsMicros, c.lsn)).foreach { c =>
      c.kind match {
        case 'i' => st(c.key) = shape.cols.indices.map(c.value).toArray
        case 'u' => st.get(c.key).foreach(r => c.set.foreach { case (ci, v) => r(ci) = v })
        case 'd' => st.remove(c.key)
      }
    }
    st.iterator.map { case (k, r) => k -> r.toVector }.toMap
  }

  /** Row-for-row comparison; returns a short diff description, or
    * None when `actual` equals `expected`. */
  def diff(expected: Map[Vector[Any], Vector[Any]], actual: Seq[Vector[Any]],
           shape: Shape): Option[String] = {
    val act = actual.map(r => shape.pk.map(r(_)).toVector -> r).toMap
    if (act.size != actual.size) return Some(s"duplicate keys: ${actual.size} rows, ${act.size} keys")
    val missing = expected.keysIterator.filterNot(act.contains).take(3).toSeq
    val extra = act.keysIterator.filterNot(expected.contains).take(3).toSeq
    val wrong = expected.iterator.filter { case (k, r) => act.get(k).exists(_ != r) }.take(3).toSeq
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty && act.size == expected.size) None
    else Some(s"rows expected=${expected.size} actual=${act.size}; missing=${missing.mkString(",")} " +
      s"extra=${extra.mkString(",")} wrong=${wrong.map { case (k, r) => s"$k want $r got ${act(k)}" }.mkString("; ")}")
  }
}
