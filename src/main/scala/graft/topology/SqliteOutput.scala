package graft.topology

import java.sql.{Connection, DriverManager}

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQLite / SQLiteRaw outputs — JDBC-backed local-database sinks.
  * reference: output/sqlite.go:15-31 (descriptors), :34-75 (config),
  * :163-199 (setup), :303-327 (DDL), :334-385 (insert loop).
  *
  * Spark mapping: the reference writes one SQLite file per output proc;
  * here each PARTITION writes its own database file ({{.ShardId}} = the
  * 4-digit partition id, as in renderSQLitePathString, sqlite.go:89-100),
  * inserting all its rows inside a single transaction, exactly like the
  * reference's one-big-transaction worker. Files land on the disk local to
  * the task (same contract as the reference's local files + upload stage).
  *
  * Zero-egress build note: the sqlite JDBC driver is not on the classpath,
  * so `JdbcUrlTemplate` lets tests (and clusters with different drivers)
  * target any embedded database — Derby ships with Spark and is what the
  * specs use. PRAGMA/VACUUM statements are applied only on real sqlite
  * URLs.
  */
object SqliteOutput {

  private val keysCommon = Seq(
    ConfigKey("PathString", "Path of the database file; {{.ShardId}} expands to the " +
      "4-digit partition id, {{.Field}} to the first output field value is NOT " +
      "supported (sharding by field uses FileWriter)", required = true),
    ConfigKey("TableName", "Table to write the records to", required = true),
    ConfigKey("PreRun", "SQL statements run at startup, before table creation",
      default = Some(Seq.empty[String])),
    ConfigKey("PostRun", "SQL statements run at exit (e.g. index creation)",
      default = Some(Seq.empty[String])),
    ConfigKey("Clear", "DELETE from TableName before starting (append otherwise)",
      default = Some(false)),
    ConfigKey("Vacuum", "run VACUUM at the end (sqlite URLs only)", default = Some(false)),
    ConfigKey("Wal", "PRAGMA journal_mode=wal before starting (sqlite URLs only)",
      default = Some(false)),
    ConfigKey("PageSize", "sqlite page size (sqlite URLs only; 0 = driver default)",
      default = Some(0L)),
    ConfigKey("JdbcUrlTemplate", "JDBC URL template; {{.Path}} expands to the rendered " +
      "PathString. Default jdbc:sqlite:{{.Path}}; tests use Derby " +
      "(jdbc:derby:{{.Path}};create=true)",
      default = Some("jdbc:sqlite:{{.Path}}")),
  )

  val desc: OutputDesc = OutputDesc(
    "SQLite",
    "Writes a chosen set of fields as table columns into a local SQLite " +
      "(or other embedded JDBC) database file, one file per partition.",
    keysCommon,
    raw = false,
    (ctx, cfg, df) => run(ctx, cfg, df, rawBlob = None),
  )

  val rawDesc: OutputDesc = OutputDesc(
    "SQLiteRaw",
    "Writes a chosen set of fields, plus the raw record, as table columns " +
      "into a local SQLite (or other embedded JDBC) database file.",
    keysCommon :+ ConfigKey("RecordBlobName",
      "Column for the whole raw record", required = true),
    raw = true,
    (ctx, cfg, df) => run(ctx, cfg, df, rawBlob = Some(cfg.str("RecordBlobName"))),
  )

  private def sanitize(name: String, what: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"SQLite: invalid $what name '$name'")
    name
  }

  private def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def run(ctx: TopologyCtx, cfg: ComponentConfig, df: DataFrame,
      rawBlob: Option[String]): OutputResult = {
    val pathString = cfg.str("PathString")
    val urlTemplate = cfg.str("JdbcUrlTemplate")
    val table = sanitize(cfg.str("TableName"), "table")
    val preRun = cfg.strList("PreRun")
    val postRun = cfg.strList("PostRun")
    val clear = cfg.bool("Clear")
    val vacuum = cfg.bool("Vacuum")
    val wal = cfg.bool("Wal")
    val pageSize = cfg.int("PageSize")
    val fields = ctx.outputFields
    require(fields.nonEmpty, "SQLite: [output] fields required")
    fields.foreach(sanitize(_, "column"))
    rawBlob.foreach(sanitize(_, "column"))

    val spark = ctx.spark
    val rowsAcc = spark.sparkContext.longAccumulator("sqlite_rows")
    val pathsAcc = spark.sparkContext.collectionAccumulator[String]("sqlite_paths")

    val cols = fields.map(f => coalesce(col(f).cast("string"), lit(""))) ++
      rawBlob.map(_ => col("_record").cast("binary")).toSeq
    // without {{.ShardId}} every partition would race on ONE db file
    // (embedded engines are single-booter): collapse to one partition, the
    // reference's procs=1 configuration
    val projected0 = df.select(cols: _*)
    val projected =
      if (pathString.contains("{{.ShardId}}")) projected0 else projected0.coalesce(1)
    val nFields = fields.size
    val hasBlob = rawBlob.isDefined
    val blobName = rawBlob.getOrElse("")

    projected.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val shard = f"${TaskContext.getPartitionId()}%04d"
      val path = pathString.replace("{{.ShardId}}", shard)
      Option(new java.io.File(path).getParentFile).foreach(_.mkdirs())
      val url = urlTemplate.replace("{{.Path}}", path)
      val isSqlite = url.startsWith("jdbc:sqlite:")
      val conn = DriverManager.getConnection(url)
      try {
        if (isSqlite && wal) exec(conn, "PRAGMA journal_mode=wal")
        if (isSqlite && pageSize > 0) exec(conn, s"PRAGMA page_size=$pageSize")
        conn.setAutoCommit(false)
        preRun.foreach(exec(conn, _))
        // sqlite: TEXT + CREATE IF NOT EXISTS; other dialects (Derby): plain
        // CREATE VARCHAR, tolerating table-exists
        val colType = if (isSqlite) "TEXT" else "VARCHAR(32672)"
        val ddlCols = (fields.map(f => s"$f $colType") ++
          (if (hasBlob) Seq(s"$blobName BLOB") else Nil)).mkString(", ")
        if (isSqlite) exec(conn, s"CREATE TABLE IF NOT EXISTS $table ($ddlCols)")
        else try exec(conn, s"CREATE TABLE $table ($ddlCols)")
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
        if (clear) exec(conn, s"DELETE FROM $table")
        val ncols = nFields + (if (hasBlob) 1 else 0)
        val ins = conn.prepareStatement(
          s"INSERT INTO $table VALUES (${Seq.fill(ncols)("?").mkString(", ")})")
        try {
          var batched = 0
          for (r <- rows) {
            var i = 0
            while (i < nFields) { ins.setString(i + 1, r.getString(i)); i += 1 }
            if (hasBlob) ins.setBytes(ncols, r.getAs[Array[Byte]](nFields))
            ins.addBatch()
            rowsAcc.add(1L)
            batched += 1
            if (batched >= 1000) { ins.executeBatch(); batched = 0 }
          }
          if (batched > 0) ins.executeBatch()
        } finally ins.close()
        postRun.foreach(exec(conn, _))
        conn.commit()
        // VACUUM cannot run inside a transaction (sqlite.go Vacuum help)
        if (isSqlite && vacuum) { conn.setAutoCommit(true); exec(conn, "VACUUM") }
        pathsAcc.add(path)
      } finally {
        conn.close()
        // embedded Derby keeps the db engine booted per-JVM; shut the
        // database down so another partition/test can reopen it cleanly
        if (url.startsWith("jdbc:derby:"))
          try DriverManager.getConnection(
            url.replaceAll(";create=true", "") + ";shutdown=true").close()
          catch { case _: java.sql.SQLException => () } // shutdown always throws
      }
    }
    import scala.jdk.CollectionConverters._
    OutputResult(pathsAcc.value.asScala.toSeq.distinct, rowsAcc.value)
  }
}
