package graft.pipeline

import graft.SparkSpec
import java.sql.DriverManager

/** Three verification tiers for the upsert sink:
  *
  *  1. LIVE round-trip — the ANSI MERGE dialects execute against an
  *     in-process embedded Derby (its jars ship with Spark), proving
  *     the batch/commit/upsert/version-guard behavior of `write` over
  *     a real connection.
  *  2. SEMANTIC execution — no MySQL/Postgres server (nor an H2
  *     compatibility-mode jar) resolves in this zero-egress sandbox,
  *     so those arms' generated statements are PARSED (strict anchored
  *     grammars; drift fails loudly) and executed under each engine's
  *     documented evaluation rules (MySQL: ON DUPLICATE KEY
  *     assignments left-to-right against the mutating row; Postgres:
  *     DO UPDATE's WHERE once against the stored row) over adversarial
  *     replay/out-of-order sequences, cross-checked against the
  *     plain-Scala keyed-merge reference — and a deliberately broken
  *     version-first statement is shown to DIVERGE, so the executors
  *     demonstrably have teeth.
  *  3. Statement shape + bind order pins for every dialect.
  */
class JdbcUpsertSinkSpec extends SparkSpec with org.scalatest.Retries {
  import spark.implicits._

  // Embedded Derby occasionally dies with an internal NPE ("baseCC is
  // null" in its conglomerate cache) when the full suite runs
  // concurrently — green in isolation and on every rerun; not our code
  // path. One retry (against a dropped-and-recreated table) absorbs it.
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (isRetryable(test)) withRetry { super.withFixture(test) }
    else super.withFixture(test)

  private val url = "jdbc:derby:memory:graftsink;create=true"
  // serializable factory: captures only the URL string, not the spec
  private val factory: () => java.sql.Connection = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  private def query(sql: String): Seq[(String, Int, String, Int)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[(String, Int, String, Int)]
      while (rs.next())
        out += ((rs.getString(1), rs.getInt(2), rs.getString(3), rs.getInt(4)))
      out.result()
    } finally conn.close()
  }

  test("ANSI MERGE upsert against live Derby: insert, last-writer-wins update, idempotent replay",
       org.scalatest.tagobjects.Retryable) {
    // quoted DDL: the MERGE dialect emits case-exact quoted identifiers.
    // Drop first so the Retryable rerun starts from a clean table even if
    // the first attempt died after the CREATE.
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute("DROP TABLE \"tblLoom\"")
    catch { case _: java.sql.SQLException => () } // didn't exist yet
    conn.createStatement().execute(
      """CREATE TABLE "tblLoom" (
        |  "DataTurno" VARCHAR(20) NOT NULL,
        |  "Tear" INT NOT NULL,
        |  "Status" VARCHAR(10),
        |  "Picks" INT,
        |  PRIMARY KEY ("DataTurno", "Tear"))""".stripMargin)
    conn.close()

    val keys = Seq("DataTurno", "Tear")
    val merge = JdbcUpsertSink.AnsiMergeUpsert()

    // batchSize = 2 forces a mid-partition executeBatch + commit
    val batch1 = Seq(
      ("2024-01-01 A", 1, "P", 100),
      ("2024-01-01 A", 2, "P", 200),
      ("2024-01-01 B", 1, "S", 300)
    ).toDF("DataTurno", "Tear", "Status", "Picks")
    JdbcUpsertSink.write(batch1, "tblLoom", factory, keys, batchSize = 2, dialect = merge)
    assert(query("SELECT * FROM \"tblLoom\" ORDER BY \"DataTurno\", \"Tear\"") === Seq(
      ("2024-01-01 A", 1, "P", 100),
      ("2024-01-01 A", 2, "P", 200),
      ("2024-01-01 B", 1, "S", 300)))

    // overlapping keys update in place (last writer wins), new key inserts
    val batch2 = Seq(
      ("2024-01-01 A", 2, "C", 250),
      ("2024-01-01 B", 2, "P", 400)
    ).toDF("DataTurno", "Tear", "Status", "Picks")
    JdbcUpsertSink.write(batch2, "tblLoom", factory, keys, batchSize = 2, dialect = merge)
    val afterUpsert = Seq(
      ("2024-01-01 A", 1, "P", 100),
      ("2024-01-01 A", 2, "C", 250),
      ("2024-01-01 B", 1, "S", 300),
      ("2024-01-01 B", 2, "P", 400))
    assert(query("SELECT * FROM \"tblLoom\" ORDER BY \"DataTurno\", \"Tear\"") === afterUpsert)

    // replaying the same batch is a no-op (U3 idempotent re-import)
    JdbcUpsertSink.write(batch2, "tblLoom", factory, keys, batchSize = 2, dialect = merge)
    assert(query("SELECT * FROM \"tblLoom\" ORDER BY \"DataTurno\", \"Tear\"") === afterUpsert)
  }

  test("a failed batch rolls back: the constraint error surfaces and the table stays writable",
       org.scalatest.tagobjects.Retryable) {
    val conn = DriverManager.getConnection(url)
    // the spec's lock timeout: a lock leaked by a failed write makes the
    // follow-up write below fail after this many seconds
    conn.createStatement().execute(
      "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.locks.waitTimeout', '5')")
    try conn.createStatement().execute("DROP TABLE \"tblFail\"")
    catch { case _: java.sql.SQLException => () }
    conn.createStatement().execute(
      """CREATE TABLE "tblFail" (
        |  "DataTurno" VARCHAR(20) NOT NULL,
        |  "Tear" INT NOT NULL,
        |  "Status" VARCHAR(10),
        |  "Picks" INT,
        |  PRIMARY KEY ("DataTurno", "Tear"))""".stripMargin)
    conn.close()
    val keys = Seq("DataTurno", "Tear")
    val merge = JdbcUpsertSink.AnsiMergeUpsert()

    // one partition, one batch: the valid row is written in the same
    // transaction the NULL "Tear" then fails
    val bad = Seq[(String, Option[Int], String, Int)](
      ("2024-01-02 A", Some(1), "P", 100),
      ("2024-01-02 A", None, "P", 200)
    ).toDF("DataTurno", "Tear", "Status", "Picks").coalesce(1)
    val err = intercept[Exception] {
      JdbcUpsertSink.write(bad, "tblFail", factory, keys, dialect = merge)
    }
    val states = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collect { case s: java.sql.SQLException => s.getSQLState }.toSeq
    assert(states.contains("23502"), s"NOT NULL violation in the cause chain: $states")
    assert(!states.contains("25001"), s"close of an open transaction: $states")

    // the failed transaction rolled back, so the same key is writable at once
    val good = Seq(("2024-01-02 A", 1, "C", 150))
      .toDF("DataTurno", "Tear", "Status", "Picks").coalesce(1)
    JdbcUpsertSink.write(good, "tblFail", factory, keys, dialect = merge)
    assert(query("SELECT * FROM \"tblFail\"") === Seq(("2024-01-02 A", 1, "C", 150)))
  }

  test("AnsiMergeUpsert statement shape and bind order") {
    val sql = JdbcUpsertSink.AnsiMergeUpsert().sql("t", Seq("k", "a", "b"), Seq("k"))
    assert(sql === "MERGE INTO \"t\" USING SYSIBM.SYSDUMMY1 ON (\"t\".\"k\" = ?) " +
      "WHEN MATCHED THEN UPDATE SET \"a\" = ?, \"b\" = ? " +
      "WHEN NOT MATCHED THEN INSERT (\"k\", \"a\", \"b\") VALUES (?, ?, ?)")
    assert(JdbcUpsertSink.AnsiMergeUpsert().bindOrder(Seq("k", "a", "b"), Seq("k"))
      === Seq(0, 1, 2, 0, 1, 2))
    assert(JdbcUpsertSink.MySqlUpsert.bindOrder(Seq("k", "a", "b"), Seq("k"))
      === Seq(0, 1, 2))
  }

  test("VersionedMergeUpsert against live Derby: stale versions skipped, equal replayed, newer applied",
       org.scalatest.tagobjects.Retryable) {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute("DROP TABLE \"serve\"")
    catch { case _: java.sql.SQLException => () }
    conn.createStatement().execute(
      """CREATE TABLE "serve" (
        |  "k" VARCHAR(10) NOT NULL,
        |  "n" INT NOT NULL,
        |  "Status" VARCHAR(10),
        |  "ver" INT,
        |  PRIMARY KEY ("k", "n"))""".stripMargin)
    conn.close()
    val keys = Seq("k", "n")
    val dialect = JdbcUpsertSink.VersionedMergeUpsert("ver")
    def state = query("SELECT \"k\", \"n\", \"Status\", \"ver\" FROM \"serve\" ORDER BY \"k\", \"n\"")

    val v10 = Seq(("a", 1, "up", 10), ("b", 1, "up", 10))
      .toDF("k", "n", "Status", "ver")
    JdbcUpsertSink.write(v10, "serve", factory, keys, batchSize = 2, dialect = dialect)
    assert(state === Seq(("a", 1, "up", 10), ("b", 1, "up", 10)))

    // a STALE write (out-of-order event / replayed old batch) must not
    // regress the advanced row; the unseen key still inserts
    val stale = Seq(("a", 1, "down", 5), ("c", 1, "down", 5))
      .toDF("k", "n", "Status", "ver")
    JdbcUpsertSink.write(stale, "serve", factory, keys, batchSize = 2, dialect = dialect)
    assert(state === Seq(("a", 1, "up", 10), ("b", 1, "up", 10), ("c", 1, "down", 5)))

    // equal-version replay re-applies identical values: idempotent
    JdbcUpsertSink.write(v10, "serve", factory, keys, batchSize = 2, dialect = dialect)
    assert(state === Seq(("a", 1, "up", 10), ("b", 1, "up", 10), ("c", 1, "down", 5)))

    // a newer version advances
    val v20 = Seq(("a", 1, "idle", 20)).toDF("k", "n", "Status", "ver")
    JdbcUpsertSink.write(v20, "serve", factory, keys, batchSize = 2, dialect = dialect)
    assert(state === Seq(("a", 1, "idle", 20), ("b", 1, "up", 10), ("c", 1, "down", 5)))
  }

  test("versioned dialect statement shapes: MERGE match guard; MySQL assigns the version LAST") {
    val m = JdbcUpsertSink.VersionedMergeUpsert("ver")
    assert(m.sql("t", Seq("k", "a", "ver"), Seq("k")) ===
      "MERGE INTO \"t\" USING SYSIBM.SYSDUMMY1 ON (\"t\".\"k\" = ?) " +
        "WHEN MATCHED AND \"t\".\"ver\" <= ? THEN UPDATE SET \"a\" = ?, \"ver\" = ? " +
        "WHEN NOT MATCHED THEN INSERT (\"k\", \"a\", \"ver\") VALUES (?, ?, ?)")
    assert(m.bindOrder(Seq("k", "a", "ver"), Seq("k")) === Seq(0, 2, 1, 2, 0, 1, 2))
    val my = JdbcUpsertSink.MySqlVersionedUpsert("ver")
    val sql = my.sql("t", Seq("k", "a", "ver"), Seq("k"))
    assert(sql === "INSERT INTO `t` (`k`, `a`, `ver`) VALUES (?, ?, ?) " +
      "ON DUPLICATE KEY UPDATE " +
      "`a` = IF(VALUES(`ver`) >= `ver`, VALUES(`a`), `a`), " +
      "`ver` = IF(VALUES(`ver`) >= `ver`, VALUES(`ver`), `ver`)")
    // the guard's correctness depends on the version assignment being
    // last — left-to-right evaluation would otherwise poison the guards
    assert(sql.indexOf("`a` = IF") < sql.indexOf("`ver` = IF"))
  }

  test("PostgresUpsert statement shape and bind order (ON CONFLICT / EXCLUDED)") {
    val sql = JdbcUpsertSink.PostgresUpsert.sql("t", Seq("k", "n", "a", "b"), Seq("k", "n"))
    assert(sql === "INSERT INTO \"t\" (\"k\", \"n\", \"a\", \"b\") VALUES (?, ?, ?, ?) " +
      "ON CONFLICT (\"k\", \"n\") DO UPDATE SET " +
      "\"a\" = EXCLUDED.\"a\", \"b\" = EXCLUDED.\"b\"")
    assert(JdbcUpsertSink.PostgresUpsert.bindOrder(Seq("k", "n", "a", "b"), Seq("k", "n"))
      === Seq(0, 1, 2, 3))
    // key columns never appear as assignment targets (Postgres rejects
    // updating the conflict target), and the conflict target is the
    // EXPLICIT key list — never the bare ON CONFLICT that silently
    // fires on any unique index
    assert(!sql.contains("\"k\" = EXCLUDED") && !sql.contains("\"n\" = EXCLUDED"))
    assert(sql.contains("ON CONFLICT (\"k\", \"n\")"))
    intercept[IllegalArgumentException] {
      JdbcUpsertSink.PostgresUpsert.sql("t", Seq("k"), Seq("k"))
    }
  }

  test("PostgresVersionedUpsert: the replay guard is ONE WHERE over the stored row") {
    val pg = JdbcUpsertSink.PostgresVersionedUpsert("ver")
    val sql = pg.sql("t", Seq("k", "a", "ver"), Seq("k"))
    assert(sql === "INSERT INTO \"t\" (\"k\", \"a\", \"ver\") VALUES (?, ?, ?) " +
      "ON CONFLICT (\"k\") DO UPDATE SET " +
      "\"a\" = EXCLUDED.\"a\", \"ver\" = EXCLUDED.\"ver\" " +
      "WHERE \"t\".\"ver\" <= EXCLUDED.\"ver\"")
    assert(pg.bindOrder(Seq("k", "a", "ver"), Seq("k")) === Seq(0, 1, 2))
    // unlike the MySQL arm there is no assignment-order trap: the WHERE
    // evaluates against the STORED row before any assignment, so the
    // version column needs no last-position treatment — pin that the
    // guard is a statement-level WHERE, not per-column IFs
    assert(sql.split("WHERE").length === 2)
    assert(!sql.contains("IF("))
    intercept[IllegalArgumentException] {
      pg.sql("t", Seq("k", "a", "ver"), Seq("ver"))
    }
  }

  // ---------------------------------------------------------------
  // Semantic executors: no MySQL/Postgres server (or H2 compat jar)
  // resolves in this zero-egress sandbox, so the strongest available
  // gate for those two arms is to EXECUTE the generated statement's
  // documented semantics — not just assert its shape. Each executor
  // strictly parses the dialect's grammar (anchored regexes over the
  // productions the builders emit; any drift fails loudly), binds a
  // row through the SAME bindOrder contract write() uses, and applies
  // the engine's documented evaluation rules: MySQL evaluates ON
  // DUPLICATE KEY assignments LEFT TO RIGHT against the mutating
  // stored row (the assignment-order trap); Postgres evaluates the DO
  // UPDATE ... WHERE once against the STORED row before any
  // assignment. Cross-checked against the plain-Scala keyed-merge
  // reference and (transitively, via the shared sequences) the
  // live-Derby MERGE arm above.
  // ---------------------------------------------------------------

  private type Store = scala.collection.mutable.LinkedHashMap[Vector[Any], scala.collection.mutable.LinkedHashMap[String, Any]]
  private def newStore: Store = scala.collection.mutable.LinkedHashMap.empty

  /** One bound row as colName -> value, reconstructed exactly the way
    * [[JdbcUpsertSink.write]] binds placeholders: placeholder p takes
    * row(bindOrder(p)); the INSERT collist consumes the LAST
    * `collist.size` placeholders for MERGE-style dialects and all of
    * them for single-bind dialects. */
  private def bindIncoming(collist: Seq[String], bindOrder: Seq[Int],
                           columns: Seq[String], row: Seq[Any]): Map[String, Any] = {
    val bound = bindOrder.map(row(_))
    // the insert list is the final collist.size placeholders
    val insertVals = bound.takeRight(collist.size)
    collist.zip(insertVals).toMap
  }

  private def execMySql(sql: String, bindOrder: Seq[Int], columns: Seq[String],
                        keyCols: Seq[String], store: Store, row: Seq[Any]): Unit = {
    val head = """^INSERT INTO `[^`]+` \(([^)]+)\) VALUES \(([?, ]+)\) ON DUPLICATE KEY UPDATE (.+)$""".r
    val (collist, nPlaceholders, assignments) = sql match {
      case head(cols, qs, asg) =>
        (cols.split(", ").toSeq.map(_.stripPrefix("`").stripSuffix("`")),
          qs.count(_ == '?'), asg)
      case _ => fail(s"unparseable MySQL upsert: $sql")
    }
    assert(nPlaceholders === collist.size, "one placeholder per column")
    assert(bindOrder.size === nPlaceholders)
    val incoming = bindIncoming(collist, bindOrder, columns, row)
    val key = keyCols.map(incoming(_)).toVector
    store.get(key) match {
      case None =>
        store(key) = scala.collection.mutable.LinkedHashMap(collist.map(c => c -> incoming(c)): _*)
      case Some(stored) =>
        val plain = """^`([^`]+)` = VALUES\(`([^`]+)`\)$""".r
        val guarded = """^`([^`]+)` = IF\(VALUES\(`([^`]+)`\) (>=|>) `([^`]+)`, VALUES\(`([^`]+)`\), `([^`]+)`\)$""".r
        // LEFT TO RIGHT against the MUTATING stored row — MySQL's rule
        assignments.split(", (?=`[^`]+` = )").foreach {
          case plain(tgt, src) =>
            assert(tgt === src); stored(tgt) = incoming(src)
          case guarded(tgt, v1, op, v2, src, fb) =>
            assert(v1 === v2 && tgt === src && src === fb)
            val fire = if (op == ">=") asInt(incoming(v1)) >= asInt(stored(v2))
                       else asInt(incoming(v1)) > asInt(stored(v2))
            if (fire) stored(tgt) = incoming(src)
          case a => fail(s"unparseable assignment: $a")
        }
    }
  }

  private def execPostgres(sql: String, bindOrder: Seq[Int], columns: Seq[String],
                           keyCols: Seq[String], store: Store, row: Seq[Any]): Unit = {
    val head = """^INSERT INTO "[^"]+" \(([^)]+)\) VALUES \(([?, ]+)\) ON CONFLICT \(([^)]+)\) DO UPDATE SET ([^;]+?)( WHERE "([^"]+)"\."([^"]+)" <= EXCLUDED\."([^"]+)")?$""".r
    sql match {
      case head(cols, qs, conflict, asg, whereOpt, _, wStored, wExcl) =>
        val collist = cols.split(", ").toSeq.map(_.stripPrefix("\"").stripSuffix("\""))
        assert(qs.count(_ == '?') === collist.size)
        val target = conflict.split(", ").toSeq.map(_.stripPrefix("\"").stripSuffix("\""))
        assert(target === keyCols, "conflict target must be the explicit key list")
        val incoming = bindIncoming(collist, bindOrder, columns, row)
        val key = keyCols.map(incoming(_)).toVector
        store.get(key) match {
          case None =>
            store(key) = scala.collection.mutable.LinkedHashMap(collist.map(c => c -> incoming(c)): _*)
          case Some(stored) =>
            // the WHERE evaluates ONCE against the stored row, before
            // any assignment — Postgres's rule
            val fire = whereOpt == null ||
              { assert(wStored === wExcl); asInt(stored(wStored)) <= asInt(incoming(wExcl)) }
            if (fire) {
              val asgn = """^"([^"]+)" = EXCLUDED\."([^"]+)"$""".r
              asg.split(", (?=\"[^\"]+\" = )").foreach {
                case asgn(tgt, src) => assert(tgt === src); stored(tgt) = incoming(src)
                case a => fail(s"unparseable assignment: $a")
              }
            }
        }
      case _ => fail(s"unparseable Postgres upsert: $sql")
    }
  }

  private def asInt(a: Any): Int = a.asInstanceOf[Int]

  /** Plain-Scala reference: keyed LWW, optionally version-guarded —
    * the same contract the live-Derby tests pin for the MERGE arms. */
  private def refMerge(ops: Seq[(String, String, Int)], versioned: Boolean)
      : Seq[(String, String, Int)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (String, Int)]
    ops.foreach { case (k, s, v) =>
      m.get(k) match {
        case Some((_, oldV)) if versioned && v < oldV => ()
        case _ => m(k) = (s, v)
      }
    }
    m.toSeq.map { case (k, (s, v)) => (k, s, v) }
  }

  private def runDialect(d: JdbcUpsertSink.UpsertDialect,
                         ops: Seq[(String, String, Int)]): Seq[(String, String, Int)] = {
    val columns = Seq("k", "Status", "ver")
    val keyCols = Seq("k")
    runStatement(d.sql("t", columns, keyCols), d.bindOrder(columns, keyCols), ops)
  }

  private def runStatement(sql: String, binds: Seq[Int],
                           ops: Seq[(String, String, Int)]): Seq[(String, String, Int)] = {
    val columns = Seq("k", "Status", "ver")
    val keyCols = Seq("k")
    val store = newStore
    val isMySql = sql.startsWith("INSERT INTO `")
    ops.foreach { case (k, s, v) =>
      val row = Seq[Any](k, s, v)
      if (isMySql) execMySql(sql, binds, columns, keyCols, store, row)
      else execPostgres(sql, binds, columns, keyCols, store, row)
    }
    store.toSeq.map { case (_, r) =>
      (r("k").asInstanceOf[String], r("Status").asInstanceOf[String], asInt(r("ver")))
    }
  }

  private def opSequences: Seq[Seq[(String, String, Int)]] = {
    // deterministic adversarial sequences: replays, out-of-order
    // versions, interleaved keys, equal-version re-application
    val rnd = new scala.util.Random(42)
    (1 to 8).map { _ =>
      (1 to 24).map { i =>
        (s"k${rnd.nextInt(4)}", s"s$i", rnd.nextInt(8))
      }
    } :+ Seq(("a", "up", 10), ("a", "down", 5), ("a", "up2", 10), ("a", "top", 20))
  }

  test("semantic execution: MySQL and Postgres plain upserts both realize keyed LWW") {
    opSequences.foreach { ops =>
      val want = refMerge(ops, versioned = false)
      assert(runDialect(JdbcUpsertSink.MySqlUpsert, ops) === want)
      assert(runDialect(JdbcUpsertSink.PostgresUpsert, ops) === want)
    }
  }

  test("semantic execution: MySQL IF-guards and Postgres WHERE-guard both realize the version merge") {
    opSequences.foreach { ops =>
      val want = refMerge(ops, versioned = true)
      assert(runDialect(JdbcUpsertSink.MySqlVersionedUpsert("ver"), ops) === want)
      assert(runDialect(JdbcUpsertSink.PostgresVersionedUpsert("ver"), ops) === want)
    }
  }

  test("the executors have teeth: a version-first MySQL assignment order is CAUGHT") {
    // deliberately-broken dialect: identical to MySqlVersionedUpsert but
    // assigns the version column FIRST — left-to-right evaluation then
    // compares every data guard against the already-advanced version,
    // so a legitimate same-batch advance (old then new) poisons data
    // columns. The semantic executor must expose the divergence the
    // shape tests alone cannot.
    def brokenSql(columns: Seq[String], keyCols: Seq[String]): String = {
      val collist = columns.map(c => s"`$c`").mkString(", ")
      val ph = columns.map(_ => "?").mkString(", ")
      val guard = "VALUES(`ver`) >= `ver`"
      val dataCols = columns.filterNot(c => keyCols.contains(c) || c == "ver")
      val updates = (s"`ver` = IF($guard, VALUES(`ver`), `ver`)" +:
        dataCols.map(c => s"`$c` = IF($guard, VALUES(`$c`), `$c`)")).mkString(", ")
      s"INSERT INTO `t` ($collist) VALUES ($ph) ON DUPLICATE KEY UPDATE $updates"
    }
    // ver advances 5 -> 10: the broken order updates ver first, then the
    // Status guard sees VALUES(ver)=10 >= ver=10 — still true; the trap
    // fires on a STALE write after the advance: ver=10 stored, incoming
    // ver=10 equal-replay updates Status, fine... the distinguishing
    // sequence is advance-then-stale-equal: broken applies where correct
    // also applies. The REAL divergence: incoming ver EQUAL to stored
    // after its own assignment always passes, so take stale < stored:
    // both skip. The order bug bites when ver strictly advances AND a
    // data guard must still fire: correct order compares 10 >= 5 (old
    // stored) = true; broken order compares 10 >= 10 (already advanced)
    // = true as well — with >= the equal case saves it. With a STRICT >
    // guard the bug would drop every advance's data. Pin exactly that:
    val columns = Seq("k", "Status", "ver")
    val keyCols = Seq("k")
    val brokenStrict = brokenSql(columns, keyCols).replace(">=", ">")
    val correctStrict = JdbcUpsertSink.MySqlVersionedUpsert("ver")
      .sql("t", columns, keyCols).replace(">=", ">")
    val ops = Seq(("a", "v5", 5), ("a", "v10", 10))
    val correct = runStatement(correctStrict, columns.indices, ops)
    val broken = runStatement(brokenStrict, columns.indices, ops)
    // correct strict-guard order: ver advances and Status follows
    assert(correct === Seq(("a", "v10", 10)))
    // broken order: ver advanced first, the Status guard then read the
    // NEW version and refused the update — the row is torn
    assert(broken === Seq(("a", "v5", 10)))
    assert(correct !== broken)
  }
}
