package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.{Connection, DriverManager, PreparedStatement}

/** JDBC upsert sink ≙ reference `internal/target/pgsql.go` /
  * `internal/target/mysql.go`: auto-create the table with the key as
  * PRIMARY KEY (`pgsql.go:89-98`), auto-ALTER new columns as they appear
  * in the data (`pgsql.go:162-238`), then write the batch with key-
  * idempotent semantics — either insert-if-absent / first-write-wins
  * (pgsql `ON CONFLICT (key) DO NOTHING`, `pgsql.go:22-33`) or
  * last-write-wins (mysql `REPLACE INTO`, `mysql.go:22-35`).
  *
  * Spark-native shape: the single mutex-serialized statement loop of the
  * reference (`pgsql.go:108,121,128`) becomes one loop per partition —
  * the batch is hash-partitioned on the key columns so each key lands on
  * exactly one task (a batch import repartitions; the CDC apply reuses
  * its winner window's exchange), then every partition opens its own
  * connection and writes its disjoint key range in parallel (the same
  * executor-side pattern as Spark's own JDBC writer). No cross-task
  * conflict is possible, so UPDATE-then-INSERT needs no retry loop.
  * Delivery is the reference's model exactly: at-least-once transport +
  * key-idempotent writes = converged final state (plus an optional
  * applied-batch ledger for exactly-once skip of whole replayed batches).
  * The CDC apply adds per-key monotonicity in the database itself:
  * lsn-guarded upserts and deletes in that same loop, and a tombstone
  * table ([[applyCdcBatch]]).
  *
  * Type ladder (≙ the value-sniffing ladder `pgsql.go:170-229`, but
  * driven by the DataFrame schema — we have one, the reference doesn't):
  * integral→BIGINT, fractional→DOUBLE PRECISION, decimal→NUMERIC(p,s),
  * bool→BOOLEAN, date→DATE, timestamp→TIMESTAMP, string→VARCHAR(255) or
  * CLOB when any batch value exceeds 255 chars (≙ the TEXT predicate
  * `pgsql.go:326-330`), struct/array/map→JSON text in CLOB (≙ JSONB,
  * `pgsql.go:203-210`). The reference's float64→INT template bug
  * (`pgsql.go:195-198`) and the string-assertion coercion bug that
  * zeroes every JSON number (`pgsql.go:242-274`) are deliberately NOT
  * copied (SURVEY.md §1.2).
  */
object JdbcUpsert {

  /** Write modes, named for their reference semantics. */
  val InsertIfAbsent = "insertIfAbsent" // pgsql ON CONFLICT DO NOTHING
  val Replace = "replace"               // mysql REPLACE INTO
  val Modes: Set[String] = Set(InsertIfAbsent, Replace)

  final case class Config(
      url: String,
      table: String,
      keyColumns: Seq[String] = Seq("key"),
      // a batch import's write mode; the CDC apply is always max-lsn-wins
      mode: String = Replace,
      batchSize: Int = DefaultBatchSize) {
    require(Modes(mode), s"jdbc mode $mode not implemented (${Modes.mkString("|")})")
    require(keyColumns.nonEmpty, "jdbc sink requires at least one key column")
  }

  /** Rows per partition transaction commit ≙ the reference's flush size
    * (`specs.batchSize`).
    */
  val DefaultBatchSize = 100

  /** String columns whose longest batch value exceeds this become CLOB
    * (≙ the len>255 TEXT predicate, `pgsql.go:326-330`).
    */
  private val TextThreshold = 255

  /** Upsert `df` into the target table: normalize complex columns to JSON
    * text, create/evolve the table DDL, repartition on the key, write all
    * partitions in parallel. Returns the number of rows written.
    */
  def write(df: DataFrame, cfg: Config): Long = {
    val flat = normalize(df)
    prepareTable(flat, flat, cfg)
    writePartitions(flat.repartition(cfg.keyColumns.map(col): _*), cfg, cdc = false)._1
  }

  /** CDC apply ≙ the flagship merge, against a JDBC table, in one pass:
    * the per-batch winner per key (same delete-wins-on-equal-lsn
    * tie-break as LakeTable) goes straight into one statement loop per
    * partition — the window's exchange already puts each key in one
    * partition — and every write is guarded by lsn, so each key moves
    * only forward across batches, replays and redeliveries, and the
    * pipeline keeps no dedup state. The table stores each row's `lsn`
    * (only `op` is dropped), and the tombstone table `graft_tombstones`,
    * kept next to the ledger, holds the highest lsn a delete of each key
    * carried:
    *
    *  - an upsert is `UPDATE … WHERE <keys> AND "lsn" < ?`; when that
    *    updates nothing it is skipped if the key's tombstone is at or
    *    above its lsn, else INSERTed, and a duplicate key is swallowed
    *    (the stored row is newer);
    *  - a delete is `DELETE … WHERE <keys> AND "lsn" <= ?` (the delete
    *    wins an equal-lsn tie) and raises the key's tombstone, also when
    *    no row is there.
    *
    * The DDL runs once, before the write, on the winners' columns; the
    * CLOB probe reads the whole batch (losers included), so a long string
    * that only a losing duplicate carries makes its column CLOB too.
    * Returns (upsert winners, rows deleted). JdbcUpsertSpec pins both
    * across micro-batches, and the Spark actions of one CdcJob batch.
    */
  def applyCdcBatch(batch: DataFrame, cfg: Config): (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(cfg.keyColumns.map(col): _*)
      .orderBy(graft.envelope.ChangeEvent.winnerOrder: _*)
    val flat = normalize(batch)
    val winners = flat.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    withConnection(cfg.url)(ensureTombstones)
    prepareTable(winners.drop("op"), flat, cfg)
    writePartitions(winners, cfg, cdc = true)
  }

  /** Driver-side DDL, once per batch ≙ the interleaved DDL of a reference
    * flush (`pgsql.go:139-144`) hoisted out of the data loop: create the
    * table and ADD/widen the columns of `rows`, with CLOB for the string
    * columns whose values in `probed` run long.
    */
  private def prepareTable(rows: DataFrame, probed: DataFrame, cfg: Config): Unit = {
    require(cfg.keyColumns.forall(rows.columns.contains),
      s"key columns ${cfg.keyColumns.mkString(",")} missing from " +
        s"batch columns ${rows.columns.mkString(",")}")
    val longText = longStringCols(probed)
    withConnection(cfg.url) { conn =>
      ensureTable(conn, cfg, rows.schema)
      ensureColumns(conn, cfg, rows.schema, longText)
    }
  }

  /** The one statement loop: each partition opens its own connection and
    * writes its disjoint key range in one transaction, committed every
    * `batchSize` rows. `cdc` rows carry `lsn` and `op` and are applied by
    * their `op` (see [[applyCdcBatch]]). Returns (rows upserted, rows
    * deleted).
    */
  private def writePartitions(rows: DataFrame, cfg: Config, cdc: Boolean): (Long, Long) = {
    val sc = rows.sparkSession.sparkContext
    val upserted = sc.longAccumulator("jdbc_rows")
    val deleted = sc.longAccumulator("jdbc_deletes")
    val cols = rows.columns.toSeq.filterNot(c => cdc && c == "op")
    val url = cfg.url; val table = cfg.table; val keyCols = cfg.keyColumns
    val mode = cfg.mode; val commitEvery = cfg.batchSize
    rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val w = new PartitionWriter(conn, table, cols, keyCols, mode, cdc)
          var n = 0
          it.foreach { row =>
            if (cdc && row.getAs[String]("op") == "delete") deleted.add(w.guardedDelete(row))
            else { w.upsert(row); upserted.add(1) }
            n += 1
            if (n % commitEvery == 0) conn.commit()
          }
          conn.commit()
          w.close()
        } catch {
          // roll back before close: a driver refuses to close a
          // connection whose transaction is open, which would hide `e`
          case e: Throwable => scala.util.Try(conn.rollback()); throw e
        } finally conn.close()
      }
    }
    (upserted.value, deleted.value)
  }

  /** Exactly-once batch ledger in the target DB itself (analog of the
    * LakeTable `appliedUpTo` ledger): whole replayed batches are skipped.
    * The window between data commit and ledger insert is at-least-once —
    * absorbed by the lsn guards, same as the reference's offsets-after-
    * flush order (`source/kafka.go:103-109`).
    */
  def isApplied(url: String, pipeline: String, batchId: Long): Boolean =
    withConnection(url) { conn =>
      ensureLedger(conn)
      val st = conn.prepareStatement(
        s"SELECT 1 FROM ${q(LedgerTable)} WHERE ${q("pipeline")} = ? AND ${q("batch_id")} = ?")
      st.setString(1, pipeline); st.setLong(2, batchId)
      val rs = st.executeQuery()
      try rs.next() finally { rs.close(); st.close() }
    }

  def recordApplied(url: String, pipeline: String, batchId: Long): Unit =
    withConnection(url) { conn =>
      ensureLedger(conn)
      val st = conn.prepareStatement(
        s"INSERT INTO ${q(LedgerTable)} (${q("pipeline")}, ${q("batch_id")}) VALUES (?, ?)")
      st.setString(1, pipeline); st.setLong(2, batchId)
      try st.executeUpdate()
      catch { case e: java.sql.SQLException if isDuplicateKey(e) => () }
      finally st.close()
    }

  private val LedgerTable = "graft_applied_batches"
  private val TombstoneTable = "graft_tombstones"
  private val LsnCol = "lsn"

  // -- DDL -------------------------------------------------------------------

  /** Complex columns (struct/array/map) → compact JSON text; everything
    * else passes through typed (Catalyst casts ≙ the coercion ladder).
    */
  private[sinks] def normalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          d.withColumn(f.name, to_json(col(f.name)))
        case _ => d
      }
    }

  /** String columns whose longest value in this batch exceeds
    * [[TextThreshold]] — they get CLOB DDL (decided per batch like the
    * reference decides per value). One cheap aggregate job over the batch.
    */
  private[sinks] def longStringCols(df: DataFrame): Set[String] = {
    val strCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }
    if (strCols.isEmpty) Set.empty
    else {
      val row = df.select(strCols.map(c =>
        coalesce(max(length(col(c))), lit(0)).as(c)).toIndexedSeq: _*).head()
      strCols.zipWithIndex.collect {
        case (c, i) if row.getInt(i) > TextThreshold => c
      }.toSet
    }
  }

  private[sinks] def ddlType(dt: DataType, name: String,
      keyCols: Seq[String], longText: Set[String]): String = dt match {
    // key column is always short varchar NOT NULL ≙ `pgsql.go:23`
    case StringType if keyCols.contains(name) => "VARCHAR(255) NOT NULL"
    case StringType if longText.contains(name) => "CLOB"
    case StringType => "VARCHAR(255)"
    case ByteType | ShortType | IntegerType | LongType => "BIGINT"
    case FloatType | DoubleType => "DOUBLE PRECISION"
    case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case BinaryType => "BLOB"
    case other => throw new IllegalArgumentException(
      s"jdbc sink: unsupported column type $other for $name")
  }

  /** CREATE TABLE IF NOT EXISTS analog (`pgsql.go:89-98`): key columns +
    * PRIMARY KEY up front; data columns arrive via ensureColumns.
    */
  private def ensureTable(conn: Connection, cfg: Config, schema: StructType): Unit =
    if (!tableExists(conn, cfg.table)) {
      val keyDefs = cfg.keyColumns.map { k =>
        val dt = schema.fields.find(_.name == k)
          .map(_.dataType).getOrElse(StringType)
        s"${q(k)} ${ddlType(dt, k, cfg.keyColumns, Set.empty)}"
      }
      val ddl = s"CREATE TABLE ${q(cfg.table)} (${keyDefs.mkString(", ")}, " +
        s"PRIMARY KEY (${cfg.keyColumns.map(q).mkString(", ")}))"
      execute(conn, ddl)
    }

  /** ALTER TABLE ADD COLUMN for fields the table lacks (`pgsql.go:162-238`;
    * like mysql we probe metadata first, `mysql.go:179-193`, because
    * standard SQL has no ADD COLUMN IF NOT EXISTS). Also WIDENS existing
    * VARCHAR data columns when this batch carries values longer than the
    * column: a column created VARCHAR(255) by a short-string first batch
    * must not fail the stream when a later batch exceeds 255 (truncation
    * SQLException with no recovery path short of manual DDL). Widening
    * tries CLOB first (Postgres-style ALTER TYPE) and falls back to the
    * widest VARCHAR for engines like Derby that can only grow VARCHARs.
    */
  private def ensureColumns(conn: Connection, cfg: Config,
      schema: StructType, longText: Set[String]): Unit = {
    val existing = columnMeta(conn, cfg.table)
    val dataFields = schema.fields.filterNot(f => cfg.keyColumns.contains(f.name))
    dataFields.filterNot(f => existing.contains(f.name.toLowerCase)).foreach { f =>
      execute(conn, s"ALTER TABLE ${q(cfg.table)} ADD COLUMN " +
        s"${q(f.name)} ${ddlType(f.dataType, f.name, cfg.keyColumns, longText)}")
    }
    dataFields.filter(f => longText.contains(f.name)).foreach { f =>
      existing.get(f.name.toLowerCase).foreach { case (typeName, size) =>
        if (typeName.toUpperCase.startsWith("VARCHAR") && size < WideVarchar) {
          val alter = s"ALTER TABLE ${q(cfg.table)} ALTER COLUMN ${q(f.name)} " +
            "SET DATA TYPE "
          try execute(conn, alter + "CLOB")
          catch { case _: java.sql.SQLException =>
            execute(conn, alter + s"VARCHAR($WideVarchar)") }
        }
      }
    }
  }

  /** Derby's VARCHAR ceiling — the fallback width when a dialect cannot
    * ALTER a VARCHAR into CLOB.
    */
  private val WideVarchar = 32672

  private def ensureLedger(conn: Connection): Unit =
    if (!tableExists(conn, LedgerTable))
      execute(conn, s"CREATE TABLE ${q(LedgerTable)} (" +
        s"${q("pipeline")} VARCHAR(128) NOT NULL, ${q("batch_id")} BIGINT NOT NULL, " +
        s"PRIMARY KEY (${q("pipeline")}, ${q("batch_id")}))")

  private def ensureTombstones(conn: Connection): Unit =
    if (!tableExists(conn, TombstoneTable))
      execute(conn, s"CREATE TABLE ${q(TombstoneTable)} (" +
        s"${q("table_name")} VARCHAR(128) NOT NULL, ${q("key_hash")} CHAR(64) NOT NULL, " +
        s"${q(LsnCol)} BIGINT NOT NULL, " +
        s"PRIMARY KEY (${q("table_name")}, ${q("key_hash")}))")

  private def tableExists(conn: Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, table, null)
    try rs.next() finally rs.close()
  }

  /** lowercase column name -> (type name, size) from JDBC metadata. */
  private def columnMeta(conn: Connection, table: String): Map[String, (String, Int)] = {
    val rs = conn.getMetaData.getColumns(null, null, table, null)
    val out = scala.collection.mutable.Map.empty[String, (String, Int)]
    try {
      while (rs.next())
        out += rs.getString("COLUMN_NAME").toLowerCase ->
          ((rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE")))
    } finally rs.close()
    out.toMap
  }

  private def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def withConnection[A](url: String)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** Delimited identifier — we never interpolate data into SQL (the
    * reference's `'`→`''` escaping, `pgsql.go:284-286`, is unnecessary
    * with prepared statements), but column/table names still need
    * quoting against reserved words (e.g. `key`).
    */
  private def q(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** Only genuine duplicate-key errors: SQLState 23505 (standard/Derby/
    * Postgres) always; SQLState 23000 only when the vendor code says
    * ER_DUP_ENTRY (1062) — MySQL-style drivers report EVERY integrity
    * violation under the generic 23000 state, so matching the state alone
    * would silently swallow e.g. a NOT NULL (vendor 1048) or FK violation
    * and drop the row while still counting it as written. Anything else
    * in class 23 propagates.
    */
  private[graft] def isDuplicateKey(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).exists {
      case "23505" => true
      case "23000" => e.getErrorCode == 1062 // MySQL ER_DUP_ENTRY
      case _ => false
    }

  private def keyMatch(keyCols: Seq[String]): String =
    keyCols.map(k => s"${q(k)} = ?").mkString(" AND ")

  /** Bind `row`'s `names` columns to `st`'s parameters 1..n. */
  private def bind(st: PreparedStatement, names: Seq[String], row: Row): Unit =
    names.zipWithIndex.foreach { case (c, i) =>
      st.setObject(i + 1, jdbcValue(row.getAs[Any](c)))
    }

  // Spark Row values are already java.sql-friendly for our ladder
  private def jdbcValue(v: Any): AnyRef = v match {
    case null => null
    case b: Byte => java.lang.Long.valueOf(b.toLong)
    case s: Short => java.lang.Long.valueOf(s.toLong)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case f: Float => java.lang.Double.valueOf(f.toDouble)
    case other => other.asInstanceOf[AnyRef]
  }

  /** The tombstone rows of one target table, keyed by a SHA-256 of the
    * row's key values (length-prefixed, so no two keys share a hash
    * input): a fixed-width primary key whatever the key columns' types
    * and widths.
    */
  private final class Tombstones(conn: Connection, table: String,
      keyCols: Seq[String]) {
    private val where = s"${q("table_name")} = ? AND ${q("key_hash")} = ?"
    private val covering = conn.prepareStatement(
      s"SELECT 1 FROM ${q(TombstoneTable)} WHERE $where AND ${q(LsnCol)} >= ?")
    private val raising = conn.prepareStatement(
      s"UPDATE ${q(TombstoneTable)} SET ${q(LsnCol)} = ? WHERE $where AND ${q(LsnCol)} < ?")
    private val inserting = conn.prepareStatement(
      s"INSERT INTO ${q(TombstoneTable)} VALUES (?, ?, ?)")

    private def keyHash(row: Row): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      keyCols.foreach { k =>
        val v = String.valueOf(row.getAs[Any](k))
        md.update(s"${v.length}:$v".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      md.digest().map(b => f"$b%02x").mkString
    }

    /** Does a delete at or above `row`'s lsn cover its key? */
    def covers(row: Row): Boolean = {
      covering.setString(1, table); covering.setString(2, keyHash(row))
      covering.setLong(3, row.getAs[Long](LsnCol))
      val rs = covering.executeQuery()
      try rs.next() finally rs.close()
    }

    /** Raise the key's tombstone to `row`'s lsn unless it is higher. */
    def raise(row: Row): Unit = {
      val h = keyHash(row); val lsn = row.getAs[Long](LsnCol)
      raising.setLong(1, lsn); raising.setString(2, table)
      raising.setString(3, h); raising.setLong(4, lsn)
      if (raising.executeUpdate() == 0) {
        inserting.setString(1, table); inserting.setString(2, h)
        inserting.setLong(3, lsn)
        ignoringDuplicateKey(conn)(inserting.executeUpdate())
      }
    }

    def close(): Unit = { covering.close(); raising.close(); inserting.close() }
  }

  /** Run `write` inside a savepoint of `conn`'s open transaction and
    * swallow its duplicate-key error by rolling back to the savepoint.
    * PostgreSQL aborts the whole transaction on a failed statement (every
    * later statement fails until a rollback); Derby rolls back only the
    * statement. The savepoint keeps the transaction usable on both.
    */
  private def ignoringDuplicateKey(conn: Connection)(write: => Unit): Unit = {
    val sp = conn.setSavepoint()
    try { write; conn.releaseSavepoint(sp) }
    catch { case e: java.sql.SQLException if isDuplicateKey(e) => conn.rollback(sp) }
  }

  /** Per-partition writer: UPDATE-then-INSERT for last-write-wins,
    * INSERT-swallow-duplicate for insert-if-absent. Keys are disjoint
    * across partitions (hash partitioning on the key), so no retry loop.
    * `cdc` (the CDC apply, always last-write-wins): the UPDATE also
    * requires an older stored `lsn`, an INSERT happens only when no
    * tombstone covers the key, and [[guardedDelete]] applies a delete
    * winner.
    */
  private final class PartitionWriter(conn: Connection, table: String,
      cols: Seq[String], keyCols: Seq[String], mode: String, cdc: Boolean) {

    private val dataCols = cols.filterNot(keyCols.contains)
    private val guardCols = if (cdc) Seq(LsnCol) else Nil
    private val insertSql = s"INSERT INTO ${q(table)} (" +
      cols.map(q).mkString(", ") + ") VALUES (" +
      cols.map(_ => "?").mkString(", ") + ")"
    private val updateSql =
      if (dataCols.isEmpty) "" // key-only table: nothing to update
      else s"UPDATE ${q(table)} SET " +
        dataCols.map(c => s"${q(c)} = ?").mkString(", ") +
        " WHERE " + keyMatch(keyCols) + guardCols.map(c => s" AND ${q(c)} < ?").mkString
    private val insert = conn.prepareStatement(insertSql)
    private val update =
      if (updateSql.isEmpty) null else conn.prepareStatement(updateSql)
    private val tombstones =
      if (cdc) new Tombstones(conn, table, keyCols) else null
    private val deleting =
      if (cdc) conn.prepareStatement(
        s"DELETE FROM ${q(table)} WHERE ${keyMatch(keyCols)} AND ${q(LsnCol)} <= ?")
      else null

    def upsert(row: Row): Unit =
      if (update == null) {
        // key-only table: a present key IS the converged state, so
        // replace degenerates to insert-if-absent
        insertIfAbsent(row)
      } else if (cdc || mode == Replace) {
        bind(update, dataCols ++ keyCols ++ guardCols, row)
        if (update.executeUpdate() == 0) {
          if (!cdc) doInsert(row)
          // nothing updated: the key is absent, or stored with a newer
          // lsn (then the INSERT's duplicate key is swallowed)
          else if (!tombstones.covers(row)) insertIfAbsent(row)
        }
      } else insertIfAbsent(row) // first write wins ≙ ON CONFLICT DO NOTHING

    /** Guarded delete by key; returns the rows deleted. A key absent from
      * the table (or stored newer) deletes 0 rows, matching MERGE WHEN
      * MATCHED DELETE semantics, and still raises its tombstone.
      */
    def guardedDelete(row: Row): Int = {
      // typed bind — a string bind against e.g. a BIGINT key would lean
      // on driver-specific coercion
      bind(deleting, keyCols :+ LsnCol, row)
      val n = deleting.executeUpdate()
      tombstones.raise(row)
      n
    }

    private def insertIfAbsent(row: Row): Unit =
      ignoringDuplicateKey(conn)(doInsert(row))

    private def doInsert(row: Row): Unit = {
      bind(insert, cols, row)
      insert.executeUpdate()
    }

    def close(): Unit = {
      insert.close()
      if (update != null) update.close()
      if (cdc) { tombstones.close(); deleting.close() }
    }
  }
}
