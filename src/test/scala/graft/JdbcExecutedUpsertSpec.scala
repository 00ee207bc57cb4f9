package graft

import java.sql.DriverManager
import org.apache.spark.sql.functions._
import graft.sources.JdbcUpsertSink
import graft.sources.JdbcUpsertSink.{Additive, AnsiDialect, InsertIfAbsent, Overwrite}

/** Upsert semantics executed for real against embedded Derby through
  * the ANSI MERGE dialect — additive accumulation, overwrite, and
  * insert-if-absent each run twice so the ON-key collision path (the
  * part the reference's per-row SELECT-then-branch DAO implements by
  * hand) is what's actually asserted. */
class JdbcExecutedUpsertSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftupsert;create=true"

  private def query2(sql: String): List[(String, Long)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2))).toList
    } finally c.close()
  }

  test("additive MERGE accumulates on key collision; overwrite replaces") {
    import spark.implicits._
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      "CREATE TABLE user_clicks (user_key VARCHAR(32) PRIMARY KEY, click_count BIGINT)")
    c.createStatement().execute(
      "CREATE TABLE latest_stat (stat_key VARCHAR(32) PRIMARY KEY, click_count BIGINT)")
    c.close()

    val batch1 = Seq(("u1", 3L), ("u2", 1L)).toDF("user_key", "click_count")
    val batch2 = Seq(("u1", 2L), ("u3", 5L)).toDF("user_key", "click_count")

    JdbcUpsertSink.upsert(batch1, url, "user_clicks",
      Seq("user_key"), Seq("click_count"), Additive, AnsiDialect)
    JdbcUpsertSink.upsert(batch2, url, "user_clicks",
      Seq("user_key"), Seq("click_count"), Additive, AnsiDialect)
    assert(query2("SELECT user_key, click_count FROM user_clicks ORDER BY user_key") ==
      List(("u1", 5L), ("u2", 1L), ("u3", 5L)))

    JdbcUpsertSink.upsert(batch1.withColumnRenamed("user_key", "stat_key"),
      url, "latest_stat", Seq("stat_key"), Seq("click_count"), Overwrite, AnsiDialect)
    JdbcUpsertSink.upsert(batch2.withColumnRenamed("user_key", "stat_key"),
      url, "latest_stat", Seq("stat_key"), Seq("click_count"), Overwrite, AnsiDialect)
    assert(query2("SELECT stat_key, click_count FROM latest_stat ORDER BY stat_key") ==
      List(("u1", 2L), ("u2", 1L), ("u3", 5L)))
  }

  test("insert-if-absent MERGE is idempotent membership insert") {
    import spark.implicits._
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      "CREATE TABLE blocked (member_id BIGINT PRIMARY KEY)")
    c.close()

    val ids = Seq(1L, 2L).toDF("member_id")
    JdbcUpsertSink.upsert(ids, url, "blocked",
      Seq("member_id"), Nil, InsertIfAbsent, AnsiDialect)
    // second write overlaps the first — a plain INSERT would throw on PK
    JdbcUpsertSink.upsert(Seq(2L, 3L).toDF("member_id"), url, "blocked",
      Seq("member_id"), Nil, InsertIfAbsent, AnsiDialect)

    val got = query2("SELECT TRIM(CHAR(member_id)), member_id FROM blocked ORDER BY member_id")
    assert(got.map(_._2) == List(1L, 2L, 3L))
  }

  test("a failed batch rolls back: the database error surfaces and the table stays readable") {
    import spark.implicits._
    val dupUrl = "jdbc:derby:memory:graftrollback;create=true"
    val c = DriverManager.getConnection(dupUrl)
    c.createStatement().execute("CREATE TABLE dup_target (k BIGINT PRIMARY KEY, v BIGINT)")
    // a lock left by an open transaction fails the read below in 2 s,
    // not Derby's default 60
    c.createStatement().execute(
      "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.locks.waitTimeout', '2')")
    c.close()

    // one partition whose third row repeats the first row's key
    val rows = Seq((1L, 10L), (2L, 20L), (1L, 30L)).toDF("k", "v").coalesce(1)
    val err = intercept[Exception] {
      JdbcUpsertSink.insert(rows, dupUrl, "dup_target", Seq("k", "v"))
    }
    val states = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collect { case e: java.sql.SQLException => e.getSQLState }.toList
    assert(states.contains("23505"), s"duplicate-key error not surfaced: $states")
    assert(!states.contains("25001"), s"close-with-open-transaction error: $states")

    val r = DriverManager.getConnection(dupUrl)
    try {
      val rs = r.createStatement().executeQuery("SELECT COUNT(*) FROM dup_target")
      rs.next()
      assert(rs.getLong(1) == 0L, "rows of the failed partition were kept")
    } finally r.close()
  }

  test("MySQL dialect still generates ON DUPLICATE KEY statements") {
    val add = JdbcUpsertSink.statement("t", Seq("k"), Seq("v"),
      Additive, JdbcUpsertSink.MySqlDialect)
    assert(add.sql == "INSERT INTO t (k, v) VALUES (?, ?) " +
      "ON DUPLICATE KEY UPDATE v = v + VALUES(v)")
    assert(add.bindCols == Seq("k", "v"))
    val ifAbsent = JdbcUpsertSink.upsertSql("t", Seq("k"), Nil, InsertIfAbsent)
    assert(ifAbsent == "INSERT INTO t (k) VALUES (?) ON DUPLICATE KEY UPDATE k = k")
  }
}
