package graft

import graft.model.TableMeta
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-lambda forms of the CDC decode and collapse kernels — the
  * specs' equivalence references. Spark evaluates these
  * `transform`/`exists`/`zip_with`/`aggregate` lambdas interpreted, per
  * element; the engine runs the compiled kernels
  * ([[graft.plans.DecodeEventsExpression]],
  * [[graft.plans.CollapseByKey]], the two-phase skew kernels), and the
  * property specs pin them to these forms. */
object ReferenceFolds {

  private val valsT = MapType(StringType, StringType)

  /** m1 overridden by m2 (map_concat alone throws on duplicate keys). */
  private def overwrite(m1: Column, m2: Column): Column =
    map_concat(map_filter(m1, (k, _) => !map_contains_key(m2, k)), m2)

  private val emptyVals = lit(null).cast(valsT)

  /** Lambda twin of [[graft.decode.Wal2Json.decodeEvents]]. */
  def decodeEventsFold(parsed: DataFrame, meta: TableMeta): DataFrame = {
    val forTable = graft.decode.Wal2Json.forTable(parsed, meta)
    val vals = map_from_arrays(col("p.columnnames"), col("p.columnvalues"))
    val oldm = map_from_arrays(col("p.oldkeys.keynames"), col("p.oldkeys.keyvalues"))
    val pkLits = array(meta.pkCols.map(lit): _*)
    val newKey = transform(pkLits, c => element_at(vals, c))
    val oldKey = transform(pkLits, c => element_at(oldm, c))

    val isIns = col("p.kind") === "insert"
    val isDel = col("p.kind") === "delete"
    val isUpd = col("p.kind") === "update"
    // PK changed: new values present for every pk col and any differs.
    val pkChanged = isUpd && col("p.oldkeys").isNotNull &&
      !exists(newKey, _.isNull) &&
      exists(zip_with(newKey, oldKey, (n, o) => !(n <=> o)), identity)
    val updKey = when(col("p.oldkeys").isNotNull, oldKey).otherwise(newKey)

    def ev(sub: Int, op: String, key: Column, v: Column) =
      struct(lit(sub).as("sub"), lit(op).as("op"), key.as("key"), v.as("vals"))

    val events = array(
      when(isIns, ev(0, "row", newKey, vals)),
      when(isDel, ev(0, "del", oldKey, emptyVals)),
      when(isUpd && !pkChanged, ev(0, "patch", updKey, vals)),
      when(pkChanged, ev(0, "del", oldKey, emptyVals)),
      when(pkChanged, ev(1, "row", newKey, vals)))

    forTable
      .select(
        col("xid_timestamp"), col("lsn_start"),
        explode(filter(events, _.isNotNull)).as("e"))
      .select(
        struct(
          col("xid_timestamp").as("ts"),
          col("lsn_start").as("lsn"),
          col("e.sub").as("sub")).as("ord"),
        col("e.op").as("op"),
        col("e.key").as("key"),
        col("e.vals").as("vals"))
  }

  /** Lambda twin of [[graft.apply.ApplyEngine.collapse]]. */
  def collapseFold(events: DataFrame): DataFrame = {
    val init = struct(
      lit("base").as("st"),
      map().cast(valsT).as("vals"),
      lit(0).as("viol"))

    def step(acc: Column, e: Column): Column = {
      val st = acc.getField("st")
      val vals = acc.getField("vals")
      val viol = acc.getField("viol")
      val ev = e.getField("vals")
      when(e.getField("op") === "row",
        struct(lit("row").as("st"), ev.as("vals"), viol.as("viol")))
        .when(e.getField("op") === "del",
          struct(lit("del").as("st"), map().cast(valsT).as("vals"), viol.as("viol")))
        // patch:
        .when(st === "del", // update of a row deleted earlier in batch
          struct(lit("del").as("st"), vals.as("vals"), (viol + 1).as("viol")))
        .when(st === "base",
          struct(lit("patch").as("st"), ev.as("vals"), viol.as("viol")))
        .otherwise( // row|patch: column-wise override
          struct(st.as("st"), overwrite(vals, ev).as("vals"), viol.as("viol")))
    }

    events
      .groupBy(col("key"))
      .agg(aggregate(
        // custom comparator: the default one refuses structs that
        // contain a (non-orderable) map column; ord alone is orderable.
        // NULLS FIRST — `l.ord < r.ord` is null (-> otherwise(0)) when
        // either side is null, which is a non-transitive ordering; the
        // explicit null branches keep it total and match the native
        // expression's sort.
        array_sort(
          collect_list(struct(col("ord"), col("op"), col("vals"))),
          (l, r) => when(l.getField("ord").isNull && r.getField("ord").isNull, 0)
            .when(l.getField("ord").isNull, -1)
            .when(r.getField("ord").isNull, 1)
            .when(l.getField("ord") < r.getField("ord"), -1)
            .when(l.getField("ord") > r.getField("ord"), 1)
            .otherwise(0)),
        init,
        (acc, e) => step(acc, e)).as("fin"))
      .select(
        col("key"),
        col("fin.st").as("st"),
        col("fin.vals").as("vals"),
        col("fin.viol").as("viol"))
  }

  /** Lambda twin of [[graft.apply.ApplyEngine.collapseSkewResistant]]. */
  def collapseSkewResistantFold(events: DataFrame,
      bucketSeconds: Long = 30): DataFrame = {
    // `lead` = number of LEADING patch events in the folded range
    // (patches before its first row/del). Those are the events whose
    // violation status depends on the PRECEDING range's state: if it
    // ends in `del`, each of them is a patch-after-delete. Without
    // this the two-phase fold counted +1 per bucket instead of +1 per
    // patch event and missed leading patches of row/del-ending buckets.
    val init = struct(
      lit("base").as("st"),
      map().cast(valsT).as("vals"),
      lit(0).as("viol"),
      lit(0).as("lead"))

    // compose(acc, partial): apply a later contiguous range's folded
    // state after an earlier one — same transition table as `step`
    def compose(a: Column, b: Column): Column = {
      val aSt = a.getField("st")
      val bSt = b.getField("st")
      val viol = (a.getField("viol") + b.getField("viol") +
        when(aSt === "del", b.getField("lead")).otherwise(lit(0))).as("viol")
      // a is all-patches exactly when st ∈ {base, patch} — only then
      // do b's leading patches stay leading for the combined range
      val lead = when(aSt === "base" || aSt === "patch",
        a.getField("lead") + b.getField("lead"))
        .otherwise(a.getField("lead")).as("lead")
      when(bSt === "row" || bSt === "del",
        struct(bSt.as("st"), b.getField("vals").as("vals"), viol, lead))
        .when(bSt === "base",
          struct(aSt.as("st"), a.getField("vals").as("vals"), viol, lead))
        // b is a pure patch:
        .when(aSt === "del",
          struct(lit("del").as("st"), a.getField("vals").as("vals"), viol, lead))
        .when(aSt === "base",
          struct(lit("patch").as("st"), b.getField("vals").as("vals"), viol, lead))
        .otherwise(struct(
          aSt.as("st"),
          overwrite(a.getField("vals"), b.getField("vals")).as("vals"),
          viol, lead))
    }

    def step(acc: Column, e: Column): Column = {
      // one event is the partial state of a singleton range
      val asPartial = when(e.getField("op") === "row",
        struct(lit("row").as("st"), e.getField("vals").as("vals"),
          lit(0).as("viol"), lit(0).as("lead")))
        .when(e.getField("op") === "del",
          struct(lit("del").as("st"), map().cast(valsT).as("vals"),
            lit(0).as("viol"), lit(0).as("lead")))
        .otherwise(
          struct(lit("patch").as("st"), e.getField("vals").as("vals"),
            lit(0).as("viol"), lit(1).as("lead")))
      compose(acc, asPartial)
    }

    val ordCmp = (l: Column, r: Column) => // nulls-first, total — see collapseFold
      when(l.getField("ord").isNull && r.getField("ord").isNull, 0)
        .when(l.getField("ord").isNull, -1)
        .when(r.getField("ord").isNull, 1)
        .when(l.getField("ord") < r.getField("ord"), -1)
        .when(l.getField("ord") > r.getField("ord"), 1)
        .otherwise(0)

    // phase 1: fold within (key, time-bucket) — hot keys spread
    val partials = events
      .withColumn("bucket",
        floor(unix_timestamp(col("ord.ts")) / bucketSeconds))
      .groupBy(col("key"), col("bucket"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("ord"), col("op"), col("vals"))), ordCmp),
        init, step).as("partial"))

    // phase 2: compose bucket partials per key, in bucket order
    partials
      .groupBy(col("key"))
      .agg(aggregate(
        array_sort(
          collect_list(struct(col("bucket"), col("partial"))),
          (l, r) => when(l.getField("bucket") < r.getField("bucket"), -1)
            .when(l.getField("bucket") > r.getField("bucket"), 1)
            .otherwise(0)),
        init,
        (acc, p) => compose(acc, p.getField("partial"))).as("fin"))
      .select(
        col("key"),
        col("fin.st").as("st"),
        col("fin.vals").as("vals"),
        col("fin.viol").as("viol"))
  }
}
