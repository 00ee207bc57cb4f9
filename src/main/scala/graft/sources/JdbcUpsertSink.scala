package graft.sources

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, Row}

/** Batched JDBC upsert sink — the Spark-first replacement of the
  * reference's hand-rolled DAO layer. The reference implements three
  * upsert flavors with a per-row SELECT-then-INSERT-or-UPDATE round
  * trip (additive: AdUserClickCountDAOImpl.java:17-91; overwrite:
  * AdStatDAOImpl.java:20-100, whose UPDATE…FROM syntax is invalid
  * MySQL; delete-then-insert: AdProvinceTop3DAOImpl.java:30-59).
  * Here each flavor is a single batched statement per partition,
  * executed via foreachPartition with bounded batch size — no
  * driver-side collect, no per-row SELECT round trips.
  *
  * Two dialects generate the statement:
  *  - [[MySqlDialect]]: `INSERT … ON DUPLICATE KEY UPDATE` (the
  *    reference's target database; no MySQL server ships in this
  *    container, so this dialect is covered by SQL-generation tests);
  *  - [[AnsiDialect]]: `MERGE INTO … WHEN [NOT] MATCHED`, which
  *    embedded Derby executes for real — the additive / overwrite /
  *    insert-if-absent semantics are execution-verified end to end
  *    (JdbcExecutedUpsertSpec, StreamFanoutE2ESpec).
  */
object JdbcUpsertSink {

  sealed trait Mode
  /** new_value = old + incoming (reference "additive upsert"). */
  case object Additive extends Mode
  /** new_value = incoming (reference "overwrite upsert"). */
  case object Overwrite extends Mode
  /** keys only, insert if absent (blacklist-membership semantics). */
  case object InsertIfAbsent extends Mode

  sealed trait Dialect
  case object MySqlDialect extends Dialect
  case object AnsiDialect extends Dialect

  /** The statement plus the bind plan: column names in the positional
    * order the statement's `?` placeholders expect. `writePartition`
    * binds by name from each Row, so a column may appear several
    * times (MERGE references the keys in ON and again in INSERT). */
  final case class Statement(sql: String, bindCols: Seq[String])

  /** MySQL-dialect upsert statement for `keyCols` + `valueCols`. */
  def upsertSql(table: String, keyCols: Seq[String], valueCols: Seq[String],
                mode: Mode): String = {
    val cols = keyCols ++ valueCols
    val placeholders = cols.map(_ => "?").mkString(", ")
    mode match {
      case InsertIfAbsent =>
        // no-op assignment keeps the row untouched on key collision
        s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($placeholders) " +
          s"ON DUPLICATE KEY UPDATE ${keyCols.head} = ${keyCols.head}"
      case _ =>
        val updates = valueCols.map { c =>
          mode match {
            case Additive => s"$c = $c + VALUES($c)"
            case _        => s"$c = VALUES($c)"
          }
        }.mkString(", ")
        s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($placeholders) " +
          s"ON DUPLICATE KEY UPDATE $updates"
    }
  }

  /** ANSI MERGE upsert (runs on Derby, H2, PostgreSQL 15+, Oracle,
    * SQL Server). One source row per statement execution via the
    * one-row dummy table, batched with addBatch/executeBatch exactly
    * like the MySQL flavor. Bind order: keys (ON), values (UPDATE,
    * unless insert-only), then keys+values (INSERT). */
  def mergeStatement(table: String, keyCols: Seq[String], valueCols: Seq[String],
                     mode: Mode, dummyTable: String = "SYSIBM.SYSDUMMY1"): Statement = {
    val cols = keyCols ++ valueCols
    val on = keyCols.map(c => s"t.$c = ?").mkString(" AND ")
    val insert =
      s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    mode match {
      case InsertIfAbsent =>
        require(valueCols.isEmpty, "InsertIfAbsent merges keys only")
        Statement(s"MERGE INTO $table t USING $dummyTable ON $on $insert",
          keyCols ++ keyCols)
      case _ =>
        val updates = valueCols.map { c =>
          mode match {
            case Additive => s"$c = t.$c + ?"
            case _        => s"$c = ?"
          }
        }.mkString(", ")
        Statement(
          s"MERGE INTO $table t USING $dummyTable ON $on " +
            s"WHEN MATCHED THEN UPDATE SET $updates $insert",
          keyCols ++ valueCols ++ cols)
    }
  }

  def statement(table: String, keyCols: Seq[String], valueCols: Seq[String],
                mode: Mode, dialect: Dialect): Statement = dialect match {
    case MySqlDialect =>
      Statement(upsertSql(table, keyCols, valueCols, mode), keyCols ++ valueCols)
    case AnsiDialect => mergeStatement(table, keyCols, valueCols, mode)
  }

  /** Delete-then-insert replacement for one partition key (reference
    * AdProvinceTop3DAOImpl semantics), as a two-statement transaction. */
  def deleteSql(table: String, keyCols: Seq[String]): String =
    s"DELETE FROM $table WHERE " + keyCols.map(c => s"$c = ?").mkString(" AND ")

  def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** Executor-side writer: one connection + one prepared statement per
    * partition, addBatch/executeBatch every `batchSize` rows, one
    * transaction per partition. A failure rolls the transaction back
    * before the connection closes — closing with it still open throws
    * (Derby: SQLState 25001), which would hide the real error and
    * leave the partition's row locks held — then rethrows the
    * original error. */
  def writePartition(rows: Iterator[Row], sql: String, cols: Seq[String],
                     connect: () => Connection, batchSize: Int = 500): Unit = {
    val conn = connect()
    try {
      conn.setAutoCommit(false)
      val st = conn.prepareStatement(sql)
      var n = 0
      rows.foreach { r =>
        cols.zipWithIndex.foreach { case (c, i) =>
          st.setObject(i + 1, r.getAs[Any](c))
        }
        st.addBatch()
        n += 1
        if (n % batchSize == 0) st.executeBatch()
      }
      st.executeBatch()
      conn.commit()
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
        try conn.close() catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    conn.close()
  }

  /** Dataset-level plain batched insert (the delete-then-insert
    * flavor's second half; pair with [[deleteSql]]). */
  def insert(df: DataFrame, url: String, table: String, cols: Seq[String],
             batchSize: Int = 500): Unit = {
    val sql = insertSql(table, cols)
    df.foreachPartition { (rows: Iterator[Row]) =>
      writePartition(rows, sql, cols, () => DriverManager.getConnection(url), batchSize)
    }
  }

  /** Dataset-level entry: upsert `df` into `table`.
    *
    * Concurrency contract: MySQL's `ON DUPLICATE KEY UPDATE` is
    * atomic per statement, but ANSI `MERGE` is not — two partitions
    * holding the same key would race (duplicate-key error on the
    * concurrent insert, or a lost Additive increment), since each
    * partition runs its own transaction. So the AnsiDialect path
    * first hash-partitions the input on `keyCols`, which puts every
    * occurrence of a key in exactly one partition/transaction (rows
    * with equal keys then merge sequentially, which is well-defined).
    * Typical callers pass aggregate outputs whose keys are already
    * unique; the repartition makes the contract hold for any input. */
  def upsert(df: DataFrame, url: String, table: String,
             keyCols: Seq[String], valueCols: Seq[String], mode: Mode,
             dialect: Dialect = MySqlDialect, batchSize: Int = 500): Unit = {
    val stmt = statement(table, keyCols, valueCols, mode, dialect)
    val data = dialect match {
      case AnsiDialect =>
        import org.apache.spark.sql.functions.col
        df.repartition(keyCols.map(col): _*)
      case MySqlDialect => df
    }
    data.foreachPartition { (rows: Iterator[Row]) =>
      writePartition(rows, stmt.sql, stmt.bindCols,
        () => DriverManager.getConnection(url), batchSize)
    }
  }
}
