package graft

import scala.util.Random

import graft.decode.Wal2Json
import graft.model.{TableId, TableMeta}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property: the compiled decode kernel (`Wal2Json.decodeEvents`) ≡ the
  * column-lambda decode it replaced (`ReferenceFolds.decodeEventsFold`),
  * event for event, on seeded random wal2json changes — inserts,
  * updates, deletes, PK-changing updates, null `oldkeys`, missing PK
  * columns, null values, unknown kinds and a composite key — and
  * failure for failure on malformed column lists. */
class DecodePropertySpec extends SparkSpec {
  import spark.implicits._

  private val meta = TableMeta(TableId("db", "public", "t"), StructType(Seq(
    StructField("k1", LongType),
    StructField("k2", StringType),
    StructField("a", StringType),
    StructField("b", DoubleType))), Seq("k1", "k2"))

  private def json(v: Option[String]): String = v.getOrElse("null")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** A random value for column `c`, JSON-encoded; None = JSON null. */
  private def value(rnd: Random, c: String): Option[String] =
    if (rnd.nextInt(8) == 0) None
    else c match {
      case "k1" => Some(rnd.nextInt(4).toString)
      case "k2" => Some("\"" + "xy" (rnd.nextInt(2)) + "\"")
      case "a" => Some("\"w" + rnd.nextInt(100) + "\"")
      case _ => Some((rnd.nextInt(10000) / 100.0).toString)
    }

  private def randomChange(rnd: Random): String = {
    val kind = rnd.nextInt(20) match {
      case n if n < 5 => "\"insert\""
      case n if n < 13 => "\"update\""
      case n if n < 18 => "\"delete\""
      case 18 => "\"message\""
      case _ => "null"
    }
    val fields = Seq.newBuilder[String]
    fields += s""""kind":$kind,"schema":"public","table":"t""""
    if (rnd.nextInt(20) != 0) { // columns present
      // each column kept with p = 0.8: PK columns go missing too
      val cols = rnd.shuffle(Seq("k1", "k2", "a", "b")).filter(_ => rnd.nextInt(5) != 0)
      fields += s""""columnnames":${arr(cols.map("\"" + _ + "\""))}"""
      fields += s""""columnvalues":${arr(cols.map(c => json(value(rnd, c))))}"""
    }
    rnd.nextInt(8) match {
      case 0 | 1 => () // no oldkeys: keyed by the new values
      case 2 => fields += """"oldkeys":{"keynames":["k1","k2"]}"""
      case _ =>
        val keys = Seq("k1", "k2").filter(_ => rnd.nextInt(10) != 0)
        fields += s""""oldkeys":{"keynames":${arr(keys.map("\"" + _ + "\""))},""" +
          s""""keyvalues":${arr(keys.map(c => json(value(rnd, c))))}}"""
    }
    fields.result().mkString("{", ",", "}")
  }

  private def spool(payloads: Seq[String]): DataFrame =
    payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("lsn_start", "payload")
      .withColumn("xid_timestamp",
        when(col("lsn_start") % 7 === 3, lit(null).cast(TimestampType))
          .otherwise(timestamp_seconds(lit(1700000000L) + col("lsn_start") % 5)))

  private def events(df: DataFrame): Seq[String] =
    df.collect().map(r =>
      Seq(r.get(0), r.get(1), r.getSeq[String](2).mkString("[", ",", "]"),
        Option(r.getMap[String, String](3)).map(_.toSeq.sorted).orNull).mkString("|"))
      .toSeq.sorted

  test("compiled decode ≡ lambda decode on random changes (3 seeds × 400)") {
    Seq(3L, 17L, 2024L).foreach { seed =>
      val rnd = new Random(seed)
      val parsed = Wal2Json.parse(spool(Seq.fill(400)(randomChange(rnd))))
      val native = events(Wal2Json.decodeEvents(parsed, meta))
      assert(native == events(ReferenceFolds.decodeEventsFold(parsed, meta)), s"seed=$seed")
      // the generator reaches every event shape
      Seq("|row|", "|patch|", "|del|").foreach(op =>
        assert(native.exists(_.contains(op)), s"seed=$seed: no $op event"))
      assert(native.exists(_.contains(",1]|row|")), s"seed=$seed: no PK-change pair")
      assert(native.exists(_.contains("[null,")), s"seed=$seed: no missing PK value")
    }
  }

  test("malformed column lists fail (or pass) exactly as map_from_arrays does") {
    // the error condition names from a failure's cause chain
    def outcome(df: DataFrame): Either[Set[String], Seq[String]] =
      try Right(events(df)) catch {
        case e: Exception =>
          val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          Left(chain.flatMap(t => "\\[([A-Z_]+)\\]".r
            .findAllMatchIn(String.valueOf(t.getMessage)).map(_.group(1))).toSet)
      }
    val cases = Seq(
      // names and values of different lengths
      """{"kind":"insert","schema":"public","table":"t",
        "columnnames":["k1","k2","a"],"columnvalues":[1,"x"]}""",
      // a null column name
      """{"kind":"update","schema":"public","table":"t",
        "columnnames":[null,"k2"],"columnvalues":[1,"x"],
        "oldkeys":{"keynames":["k1","k2"],"keyvalues":[1,"x"]}}""",
      // a duplicated column name
      """{"kind":"insert","schema":"public","table":"t",
        "columnnames":["k1","k2","k1"],"columnvalues":[1,"x",2]}""",
      // malformed old keys on an update
      """{"kind":"update","schema":"public","table":"t",
        "columnnames":["k1","k2"],"columnvalues":[1,"x"],
        "oldkeys":{"keynames":["k1","k2"],"keyvalues":[1]}}""",
      // a delete never reads its column list
      """{"kind":"delete","schema":"public","table":"t",
        "columnnames":["k1","k1"],"columnvalues":[1],
        "oldkeys":{"keynames":["k1","k2"],"keyvalues":[1,"x"]}}""",
      // an insert never reads its old keys
      """{"kind":"insert","schema":"public","table":"t",
        "columnnames":["k1","k2"],"columnvalues":[1,"x"],
        "oldkeys":{"keynames":["k1"],"keyvalues":[1,2]}}""")
    cases.foreach { payload =>
      val parsed = Wal2Json.parse(spool(Seq(payload)))
      val native = outcome(Wal2Json.decodeEvents(parsed, meta))
      assert(native == outcome(ReferenceFolds.decodeEventsFold(parsed, meta)), payload)
    }
    val failures = cases.map(p => outcome(Wal2Json.decodeEvents(
      Wal2Json.parse(spool(Seq(p))), meta)).isLeft)
    assert(failures == Seq(true, true, true, true, false, false))
  }
}
