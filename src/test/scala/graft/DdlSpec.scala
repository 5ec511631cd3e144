package graft

import graft.ddl._
import graft.ddl.DdlAst._
import graft.ddl.DdlRules._
import graft.functions.PgArrayLiteral
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class DdlSpec extends SparkSpec {
  import spark.implicits._

  test("splitter: literals, dollar quotes, nested comments, psql cmds") {
    val script =
      """CREATE TABLE a (x text DEFAULT 'semi;colon');
        |-- a comment; with semicolon
        |/* block /* nested; */ still comment; */
        |CREATE FUNCTION f() RETURNS text AS $fn$ SELECT 'x;y'; $fn$ LANGUAGE sql;
        |\connect somedb
        |DROP TABLE b;""".stripMargin
    val stmts = StatementSplitter.split(script)
    assert(stmts.size == 3)
    assert(stmts(0).startsWith("CREATE TABLE a"))
    assert(stmts(0).contains("'semi;colon'"))
    assert(stmts(1).contains("$fn$ SELECT 'x;y'; $fn$"))
    assert(stmts(2) == "DROP TABLE b")
  }

  test("parser: the DDL shapes the replay path interprets") {
    assert(DdlAst.parse("ALTER TABLE customer ADD COLUMN c_note text") ==
      AddColumn("ALTER TABLE customer ADD COLUMN c_note text",
        QualifiedName(None, "customer"), "c_note", "text", false))
    assert(DdlAst.parse("""ALTER TABLE "s1".t DROP COLUMN IF EXISTS old_col CASCADE;""") ==
      DropColumn("""ALTER TABLE "s1".t DROP COLUMN IF EXISTS old_col CASCADE""",
        QualifiedName(Some("s1"), "t"), "old_col", true))
    DdlAst.parse("CREATE TABLE s.t (id bigint NOT NULL, name text, val numeric(10,2) DEFAULT 0, PRIMARY KEY (id))") match {
      case CreateTable(_, t, cols, _, pk) =>
        assert(t == QualifiedName(Some("s"), "t"))
        assert(cols == Seq(("id", "bigint"), ("name", "text"), ("val", "numeric(10,2)")))
        assert(pk == Seq("id"))
      case other => fail(s"got $other")
    }
    DdlAst.parse("CREATE TABLE li (ok bigint, ln int, qty double precision, PRIMARY KEY (ok, ln))") match {
      case CreateTable(_, _, _, _, pk) => assert(pk == Seq("ok", "ln"))
      case other => fail(s"got $other")
    }
    DdlAst.parse("CREATE TABLE t2 (id bigint PRIMARY KEY, v text)") match {
      case CreateTable(_, _, cols, _, pk) =>
        assert(pk == Seq("id"))
        assert(cols.head == ("id", "bigint"))
      case other => fail(s"got $other")
    }
    assert(DdlAst.parse("TRUNCATE TABLE ONLY public.big") ==
      TruncateTable("TRUNCATE TABLE ONLY public.big", QualifiedName(Some("public"), "big")))
    assert(DdlAst.parse("ALTER TABLE t RENAME COLUMN a TO b") ==
      RenameColumn("ALTER TABLE t RENAME COLUMN a TO b",
        QualifiedName(None, "t"), "a", "b"))
    DdlAst.parse("GRANT SELECT ON t TO app") match {
      case Other(_, tag) => assert(tag == "GRANT SELECT")
      case other => fail(s"got $other")
    }
  }

  test("parser: stacked constraints stripped, COLUMN keyword optional") {
    DdlAst.parse("CREATE TABLE t (a int NOT NULL DEFAULT 5, b text COLLATE \"C\" NOT NULL)") match {
      case CreateTable(_, _, cols, _, _) =>
        assert(cols == Seq(("a", "int"), ("b", "text")))
      case other => fail(s"got $other")
    }
    assert(DdlAst.parse("ALTER TABLE t ADD x integer NOT NULL") ==
      AddColumn("ALTER TABLE t ADD x integer NOT NULL",
        QualifiedName(None, "t"), "x", "integer", false))
    assert(DdlAst.parse("ALTER TABLE t DROP x") ==
      DropColumn("ALTER TABLE t DROP x", QualifiedName(None, "t"), "x", false))
    // ADD/DROP CONSTRAINT must NOT parse as a column named CONSTRAINT
    DdlAst.parse("ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (x) REFERENCES u(y)") match {
      case Other(_, _) => ()
      case other => fail(s"got $other")
    }
    DdlAst.parse("ALTER TABLE t DROP CONSTRAINT fk") match {
      case Other(_, _) => ()
      case other => fail(s"got $other")
    }
    // LIKE-only body → no parseable columns
    DdlAst.parse("CREATE TABLE t (LIKE src INCLUDING ALL)") match {
      case CreateTable(_, _, cols, _, _) => assert(cols.isEmpty)
      case other => fail(s"got $other")
    }
  }

  test("splitter: comments are stripped, not glued into tokens") {
    val stmts = StatementSplitter.split(
      "ALTER TABLE t--note\nRENAME COLUMN a TO b;\nCREATE TABLE /*x*/ u (id int)")
    assert(DdlAst.parse(stmts(0)).isInstanceOf[RenameColumn])
    DdlAst.parse(stmts(1)) match {
      case CreateTable(_, t, cols, _, _) =>
        assert(t.name == "u" && cols == Seq(("id", "int")))
      case other => fail(s"got $other")
    }
  }

  test("rules: drop/post-data/kill classification (P8, P10-P12)") {
    def c(sql: String) = classify(DdlAst.parse(sql))
    assert(c("GRANT SELECT ON t TO app") == Skip)
    assert(c("CREATE TRIGGER tg BEFORE INSERT ON t EXECUTE FUNCTION f()") == Skip)
    assert(c("COMMENT ON TABLE t IS 'hi'") == Skip)
    assert(c("CREATE TEMP TABLE scratch (x int)") == Skip)
    assert(c("ALTER TABLE t OWNER TO admin") == Skip)
    assert(c("CREATE INDEX i ON t(x)") == PostData)
    assert(c("CREATE UNIQUE INDEX i ON t(x)") == PostData)
    assert(c("ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (x) REFERENCES u(y)") == PostData)
    assert(c("ALTER TABLE t ADD COLUMN y text") == Apply)
    assert(c("COMMENT ON TABLE t IS 'KILL_ME'") == Kill)
    // md5 whitelist skips an otherwise-applied statement
    val sql = "ALTER TABLE t ADD COLUMN z int"
    assert(classify(DdlAst.parse(sql),
      md5Whitelist = Set(DdlRules.md5Hex(sql))) == Skip)
    // ignored schema
    assert(classify(DdlAst.parse("CREATE TABLE ignored_s.t (x int)"),
      ignoredSchemas = Set("ignored_s")) == Skip)
  }

  test("remapper: schema translation and search_path resolution") {
    val r = new SchemaRemapper("mydb")
    assert(r.target("public") == "mydb_public")
    assert(r.parseSearchPath("\"$user\", public") == Seq("public"))
    val remapped = r.remap(DdlAst.parse("ALTER TABLE s2.t ADD COLUMN x int"))
    assert(remapped.asInstanceOf[AddColumn].table ==
      QualifiedName(Some("mydb_s2"), "t"))
    val viaPath = r.remap(DdlAst.parse("DROP TABLE t"), Seq("s9"))
    assert(viaPath.asInstanceOf[DropTable].table ==
      QualifiedName(Some("mydb_s9"), "t"))
  }

  test("PG array literal: scala and column parsers agree (F10)") {
    val lit1 = """{"ALTER TABLE",INSERT,"with \"quotes\" in",NULL}"""
    val expected = Seq(Some("ALTER TABLE"), Some("INSERT"),
      Some("with \"quotes\" in"), None)
    assert(PgArrayLiteral.parse(lit1) == expected)
    val colResult = Seq(lit1).toDF("a")
      .select(PgArrayLiteral.parseCol(col("a")).as("arr"))
      .as[Seq[Option[String]]].collect()(0)
    assert(colResult == expected)
    assert(PgArrayLiteral.parse("{}") == Seq.empty)
  }

  test("interpreter end-to-end: mid-stream schema evolution via engine") {
    import java.nio.file.Files
    import graft.model.{SchemaRegistry, TableId, TableMeta}
    import graft.stream.{CdcStreamEngine, TableStore}

    val tid = TableId("srcdb", "public", "customer")
    val registry = new SchemaRegistry
    registry.register(TableMeta(tid,
      StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType))), Seq("c_custkey")))
    val store = new TableStore(spark, Files.createTempDirectory("g-ddl-store-").toString)
    store.stage(tid, Seq((1L, "Alice")).toDF("c_custkey", "c_name"), 0L)
    store.commit(Map(tid -> 0L))
    val engine = CdcStreamEngine.withDdl(spark, registry, store)

    def spool(rows: (Long, String)*) =
      rows.toSeq.toDF("lsn_start", "payload")
        .withColumn("insert_timestamp",
          timestamp_seconds(lit(1700000000L) + col("lsn_start")))
        .withColumn("database", lit("srcdb"))
        .withColumn("xid", col("lsn_start"))
        .withColumn("xid_timestamp", col("insert_timestamp"))
        .withColumn("source_slotname", lit("slot1"))

    // batch: ALTER ADD COLUMN, then an insert that uses the new column
    engine.processBatch(spool(
      (1L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
         "columnnames":["current_query","search_path","command_tags"],
         "columnvalues":["ALTER TABLE customer ADD COLUMN c_note text",
           "\"$user\", public","{\"ALTER TABLE\"}"]}"""),
      (2L, """{"kind":"insert","schema":"public","table":"customer",
         "columnnames":["c_custkey","c_name","c_note"],
         "columnvalues":[2,"Bob","hello"]}""")), 1L)

    val rows = store.read(tid).orderBy("c_custkey").collect()
    assert(rows.map(_.toSeq.toList).toList == List(
      List(1L, "Alice", null), List(2L, "Bob", "hello")))

    // DDL is a barrier at its STREAM POSITION: DML before a RENAME
    // uses the old column name, DML after uses the new one — both in
    // ONE batch (replay.pl:862-876 semantics)
    engine.processBatch(spool(
      (10L, """{"kind":"update","schema":"public","table":"customer",
         "columnnames":["c_custkey","c_note"],"columnvalues":[1,"before"],
         "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (11L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
         "columnnames":["current_query","search_path","command_tags"],
         "columnvalues":["ALTER TABLE customer RENAME COLUMN c_note TO c_memo",
           "public","{\"ALTER TABLE\"}"]}"""),
      (12L, """{"kind":"update","schema":"public","table":"customer",
         "columnnames":["c_custkey","c_memo"],"columnvalues":[2,"after"],
         "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}""")), 2L)
    val renamed = store.read(tid).orderBy("c_custkey").collect()
    assert(renamed.map(_.schema.fieldNames.toSeq).head ==
      Seq("c_custkey", "c_name", "c_memo"))
    // row 1 patched pre-rename under old name; row 2 post-rename
    assert(renamed.map(r => r.getLong(0) -> r.getString(2)).toSeq ==
      Seq(1L -> "before", 2L -> "after"))

    // TRUNCATE at its stream position: pre-truncate DML vanishes,
    // post-truncate insert survives, all in one batch commit
    engine.processBatch(spool(
      (20L, """{"kind":"insert","schema":"public","table":"customer",
         "columnnames":["c_custkey","c_name"],"columnvalues":[50,"doomed"]}"""),
      (21L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
         "columnnames":["current_query","search_path","command_tags"],
         "columnvalues":["TRUNCATE TABLE customer","public","{\"TRUNCATE TABLE\"}"]}"""),
      (22L, """{"kind":"insert","schema":"public","table":"customer",
         "columnnames":["c_custkey","c_name"],"columnvalues":[60,"survivor"]}""")), 3L)
    val afterTrunc = store.read(tid).collect()
    assert(afterTrunc.map(_.getLong(0)).toSeq == Seq(60L))
    // manifest must be monotonic (no regression to v=0): three
    // batches, three versions above the seed
    assert(store.manifest()("srcdb_public.customer") == 3L)

    // kill switch aborts (an LSN past the watermark: a lower one is
    // already applied and drops out before the DDL router)
    intercept[KillSwitchException] {
      engine.processBatch(spool(
        (30L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
           "columnnames":["current_query","search_path","command_tags"],
           "columnvalues":["COMMENT ON TABLE t IS 'KILL_ME'",
             "public","{\"COMMENT\"}"]}""")), 2L)
    }
  }

  test("parser: ADD PRIMARY KEY / UNIQUE / FOREIGN are not phantom columns") {
    import graft.ddl.DdlAst._
    assert(!DdlAst.parse("ALTER TABLE public.t ADD PRIMARY KEY (id)")
      .isInstanceOf[AddColumn])
    assert(!DdlAst.parse("ALTER TABLE t ADD UNIQUE (x)").isInstanceOf[AddColumn])
    assert(!DdlAst.parse("ALTER TABLE t ADD FOREIGN KEY (x) REFERENCES u(y)")
      .isInstanceOf[AddColumn])
    assert(DdlAst.parse("ALTER TABLE t ADD checksum int")
      .isInstanceOf[AddColumn]) // a column NAMED like a keyword prefix still works
  }

  test("parser: CREATE TABLE with trailing clauses keeps column types intact") {
    import graft.ddl.DdlAst._
    val p = DdlAst.parse(
      "CREATE TABLE public.m (a int, b date) PARTITION BY RANGE (b)")
      .asInstanceOf[CreateTable]
    assert(p.columns == Seq("a" -> "int", "b" -> "date"))
    val ts = DdlAst.parse("CREATE TABLE t (a int) TABLESPACE fast")
      .asInstanceOf[CreateTable]
    assert(ts.columns == Seq("a" -> "int"))
    val w = DdlAst.parse("CREATE TABLE t (a numeric(10,2)) WITH (fillfactor=70)")
      .asInstanceOf[CreateTable]
    assert(w.columns == Seq("a" -> "numeric(10,2)"))
  }

  test("parser: multi-table TRUNCATE/DROP and multi-action ALTER split") {
    import graft.ddl.DdlAst._
    val tr = DdlAst.parse("TRUNCATE public.a, public.b CASCADE")
      .asInstanceOf[Multi]
    assert(tr.parts.collect { case TruncateTable(_, t) => t.render } ==
      Seq("public.a", "public.b"))
    val dr = DdlAst.parse("DROP TABLE IF EXISTS a, b").asInstanceOf[Multi]
    assert(dr.parts.collect { case DropTable(_, t, ife) => (t.name, ife) } ==
      Seq(("a", true), ("b", true)))
    val ma = DdlAst.parse("ALTER TABLE t ADD COLUMN a int, ADD COLUMN b text")
      .asInstanceOf[Multi]
    assert(ma.parts.collect { case AddColumn(_, _, c, ty, _) => (c, ty) } ==
      Seq(("a", "int"), ("b", "text")))
  }

  test("parser: RENAME TO table and ALTER COLUMN TYPE are replayed") {
    import graft.ddl.DdlAst._
    val rt = DdlAst.parse("ALTER TABLE public.t RENAME TO t2")
      .asInstanceOf[RenameTable]
    assert(rt.table.render == "public.t" && rt.to == "t2")
    val at = DdlAst.parse(
      "ALTER TABLE t ALTER COLUMN c SET DATA TYPE bigint USING c::bigint")
      .asInstanceOf[AlterColumnType]
    assert(at.column == "c" && at.pgType == "bigint")
  }

  test("rules: unqualified DDL in an ignored schema is skipped via search_path") {
    import graft.ddl.DdlRules._
    val stmt = DdlAst.parse("CREATE TABLE tmp_t (a int)")
    assert(classify(stmt, ignoredSchemas = Set("scratch"),
      searchPath = Seq("scratch")) == Skip)
    assert(classify(stmt, ignoredSchemas = Set("scratch"),
      searchPath = Seq("public")) == Apply)
  }

  test("splitter: backslash-escaped quote inside E'' strings") {
    val stmts = graft.ddl.StatementSplitter.split(
      """ALTER TABLE t ALTER c SET DEFAULT E'it\'s'; CREATE TABLE u (a int);""")
    assert(stmts.length == 2)
    assert(stmts(0).contains("""E'it\'s'"""))
    assert(stmts(1).startsWith("CREATE TABLE u"))
  }

  test("types: serial family maps to integer types") {
    import org.apache.spark.sql.types._
    import graft.types.PgTypeMapper
    assert(PgTypeMapper.toSpark("serial") == IntegerType)
    assert(PgTypeMapper.toSpark("bigserial") == LongType)
    assert(PgTypeMapper.toSpark("smallserial") == ShortType)
  }

  test("CREATE TYPE AS ENUM parses and remaps its type name (remappers.py:258-266)") {
    val st = DdlAst.parse("CREATE TYPE public.mood AS ENUM ('sad', 'ok', 'it''s fine')")
    val e = st.asInstanceOf[CreateEnum]
    assert(e.typeName == QualifiedName(Some("public"), "mood"))
    assert(e.labels == Seq("sad", "ok", "it's fine"))
    val r = new SchemaRemapper("mydb")
    assert(r.remap(e).asInstanceOf[CreateEnum].typeName ==
      QualifiedName(Some("mydb_public"), "mood"))
    // unqualified resolves through the search path
    val uq = DdlAst.parse("CREATE TYPE mood AS ENUM ('a')")
    assert(r.remap(uq, Seq("s1")).asInstanceOf[CreateEnum].typeName ==
      QualifiedName(Some("mydb_s1"), "mood"))
  }

  test("ALTER SEQUENCE remaps sequence and OWNED BY table (remappers.py:316-326)") {
    val r = new SchemaRemapper("mydb")
    val cs = DdlAst.parse("CREATE SEQUENCE IF NOT EXISTS public.seq1 START 10")
    assert(cs.asInstanceOf[CreateSequence].sequence ==
      QualifiedName(Some("public"), "seq1"))
    assert(r.remap(cs).asInstanceOf[CreateSequence].sequence ==
      QualifiedName(Some("mydb_public"), "seq1"))

    val as = DdlAst.parse(
      "ALTER SEQUENCE public.seq1 OWNED BY sales.orders.o_orderkey")
    val a = as.asInstanceOf[AlterSequence]
    assert(a.sequence == QualifiedName(Some("public"), "seq1"))
    assert(a.ownedBy.contains((QualifiedName(Some("sales"), "orders"), "o_orderkey")))
    val ra = r.remap(a).asInstanceOf[AlterSequence]
    assert(ra.sequence == QualifiedName(Some("mydb_public"), "seq1"))
    assert(ra.ownedBy.contains((QualifiedName(Some("mydb_sales"), "orders"), "o_orderkey")))
    // two-part OWNED BY (table.column, schema from path)
    val a2 = DdlAst.parse("ALTER SEQUENCE seq2 OWNED BY orders.o_id")
      .asInstanceOf[AlterSequence]
    assert(a2.ownedBy.contains((QualifiedName(None, "orders"), "o_id")))
  }

  test("CREATE FUNCTION: sql body re-remapped statement by statement (remappers.py:355-377)") {
    val sql =
      """CREATE OR REPLACE FUNCTION public.next_order()
        |RETURNS bigint LANGUAGE sql AS $fn$
        |  SELECT nextval('public.order_seq'::regclass)
        |  FROM public.counters c WHERE c.kind = 'order';
        |$fn$""".stripMargin
    val f = DdlAst.parse(sql).asInstanceOf[CreateFunction]
    assert(f.name == QualifiedName(Some("public"), "next_order"))
    assert(f.language == "sql" && f.orReplace)
    assert(f.body.contains("nextval"))

    val r = new SchemaRemapper("mydb")
    val rf = r.remap(f).asInstanceOf[CreateFunction]
    assert(rf.name == QualifiedName(Some("mydb_public"), "next_order"))
    // the 'schema.seq'::regclass literal rewrite (remappers.py:468-493)
    assert(rf.body.contains("'mydb_public.order_seq'::regclass"))
    // relation remapped; the alias column ref `c.kind` untouched
    assert(rf.body.contains("FROM mydb_public.counters c"))
    assert(rf.body.contains("c.kind = 'order'"))
    // render substitutes remapped name + body back into the statement
    val rendered = rf.render
    assert(rendered.startsWith("CREATE OR REPLACE FUNCTION mydb_public.next_order"))
    assert(rendered.contains("$fn$") && rendered.contains("mydb_public.counters"))
  }

  test("CREATE FUNCTION: non-sql bodies kept verbatim; quoted bodies parse") {
    val pl = DdlAst.parse(
      """CREATE FUNCTION f() RETURNS int LANGUAGE plpgsql AS $$
        |BEGIN RETURN (SELECT 1 FROM public.t); END;
        |$$""".stripMargin).asInstanceOf[CreateFunction]
    val r = new SchemaRemapper("mydb")
    assert(r.remap(pl).asInstanceOf[CreateFunction].body == pl.body)

    val q = DdlAst.parse(
      """CREATE FUNCTION g() RETURNS text LANGUAGE sql AS 'SELECT ''x'' FROM public.t'""")
      .asInstanceOf[CreateFunction]
    assert(q.body == "SELECT ''x'' FROM public.t")
    assert(r.remap(q).asInstanceOf[CreateFunction].body.contains("FROM mydb_public.t"))
  }

  test("CREATE FUNCTION: lowercase 'as', body-embedded LANGUAGE, comma FROM lists, quoted schemas") {
    // lowercase 'as' before the dollar tag must still parse as a body
    val lower = DdlAst.parse(
      "create or replace function f() returns int language sql as $$ select 1 from public.t $$")
    assert(lower.isInstanceOf[CreateFunction],
      s"lowercase 'as' fell through to ${lower.getClass.getSimpleName}")
    assert(lower.asInstanceOf[CreateFunction].language == "sql")

    // a LANGUAGE token INSIDE the body must not hijack the outer
    // clause that follows the body
    val nested = DdlAst.parse(
      """CREATE FUNCTION h() RETURNS void AS $do$
        |BEGIN EXECUTE 'CREATE FUNCTION g() RETURNS int LANGUAGE sql AS ...'; END;
        |$do$ LANGUAGE plpgsql""".stripMargin).asInstanceOf[CreateFunction]
    assert(nested.language == "plpgsql",
      s"body-embedded LANGUAGE won: ${nested.language}")

    val r = new SchemaRemapper("mydb")
    // every relation of a comma-separated FROM list remaps, aliases
    // and the SELECT list's own qualified column refs untouched
    assert(r.remapSqlText(
      "SELECT a.x, b.y FROM public.a a, public.b AS b WHERE a.x = b.y") ==
      "SELECT a.x, b.y FROM mydb_public.a a, mydb_public.b AS b WHERE a.x = b.y")
    // quoted schema identifiers stay quoted after the remap
    assert(r.remapSqlText("""SELECT * FROM "My Schema".t""") ==
      """SELECT * FROM "mydb_My Schema".t""")
  }

  test("remapSqlText: system schemas and table functions handled once") {
    val r = new SchemaRemapper("mydb")
    // pg_catalog passes through unmapped (remappers.py leaves
    // schemas outside the map untouched)
    assert(r.remapSqlText("SELECT * FROM pg_catalog.pg_class") ==
      "SELECT * FROM pg_catalog.pg_class")
    // a table function remaps exactly once (relation pass defers to
    // the function pass)
    assert(r.remapSqlText("SELECT * FROM util.gen_series_x(1, 5)") ==
      "SELECT * FROM mydb_util.gen_series_x(1, 5)")
  }

  test("classification: functions skip at replay (connemara_rewrite.pm:77-80)") {
    def c(sql: String) = classify(DdlAst.parse(sql))
    assert(c("CREATE FUNCTION f() RETURNS int LANGUAGE sql AS 'SELECT 1'") == Skip)
    // OR REPLACE previously dodged the tag-based skip (tag was 'CREATE OR')
    assert(c("CREATE OR REPLACE FUNCTION f() RETURNS int LANGUAGE sql AS 'SELECT 1'") == Skip)
    assert(c("CREATE TYPE mood AS ENUM ('a')") == Apply)
    assert(c("ALTER SEQUENCE s OWNED BY t.c") == Apply)
    // ignored-schema routing covers the new nodes
    assert(classify(DdlAst.parse("CREATE TYPE ig.mood AS ENUM ('a')"),
      ignoredSchemas = Set("ig")) == Skip)
    assert(classify(
      DdlAst.parse("CREATE FUNCTION ig.f() RETURNS int LANGUAGE sql AS 'SELECT 1'"),
      ignoredSchemas = Set("ig")) == Skip)
  }

  test("remap covers RenameTable/AlterColumnType/Multi (no MatchError)") {
    val r = new SchemaRemapper("mydb")
    val rt = r.remap(DdlAst.parse("ALTER TABLE s.t RENAME TO t2"))
    assert(rt.asInstanceOf[RenameTable].table == QualifiedName(Some("mydb_s"), "t"))
    val multi = r.remap(DdlAst.parse(
      "ALTER TABLE s.t ADD COLUMN a int, ALTER COLUMN b TYPE bigint"))
    val parts = multi.asInstanceOf[Multi].parts
    assert(parts.collect { case x: AddColumn => x.table }.head ==
      QualifiedName(Some("mydb_s"), "t"))
    assert(parts.collect { case x: AlterColumnType => x.table }.head ==
      QualifiedName(Some("mydb_s"), "t"))
  }
}
