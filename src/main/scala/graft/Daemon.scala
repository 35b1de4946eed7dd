package graft

import java.nio.file.{Files, Paths}
import java.util.Properties

import graft.config.ConfigParser
import graft.sink.SchemaSync

/** The momyre binary (`main.go:31-35` → `app.Run`, `run.go:79`) as a
  * `runMain`-able Spark driver: load the YAML mapping, honor the
  * reference's flags, then hand the whole lifecycle to [[Replicator.run]]
  * (schema sync → conditional snapshot → tail forever).
  *
  * Flags mirror `run.go:38-63`:
  *   `--force`  allow destructive DDL (drop unmapped tables/columns);
  *   `--zerop`  zero-point: resync everything from scratch;
  *   `--inp=URL` / `--out=URL`  override the config's endpoints.
  *
  * Positional args replace the reference's hard-wired connections with the
  * Spark-native sources: `<config.yml> <snapshotDir> <segmentsDir>
  * <checkpointDir>` — snapshot collections as parquet dumps
  * (`<snapshotDir>/<table>.parquet`, the `readTable` analog,
  * `mongo.go:541-616`) and the change feed as oplog JSONL segments
  * (`mongo.go:456-539`).
  */
object Daemon {

  final case class Args(
      configPath: String,
      snapshotDir: String,
      segmentsDir: String,
      checkpointDir: String,
      inp: Option[String] = None,
      out: Option[String] = None,
      force: Boolean = false,
      zerop: Boolean = false)

  def parseArgs(argv: Array[String]): Args = {
    val (flags, positional) = argv.toList.partition(_.startsWith("--"))
    require(positional.length == 4,
      s"usage: graft.Daemon <config.yml> <snapshotDir> <segmentsDir> <checkpointDir> " +
        s"[--force] [--zerop] [--inp=URL] [--out=URL]; got $argv")
    val base = Args(positional(0), positional(1), positional(2), positional(3))
    flags.foldLeft(base) { (a, f) =>
      f match {
        case "--force"                     => a.copy(force = true)
        case "--zerop"                     => a.copy(zerop = true)
        case s if s.startsWith("--inp=")   => a.copy(inp = Some(s.stripPrefix("--inp=")))
        case s if s.startsWith("--out=")   => a.copy(out = Some(s.stripPrefix("--out=")))
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
  }

  /** Observed sink catalog via standard JDBC metadata — the `SHOW TABLES` /
    * `SHOW COLUMNS` pass (`mysql.go:149-166`, `mysql.go:203-212`) without
    * MySQL-specific SQL. Scoped to the CONNECTION'S catalog: a null
    * catalog on MySQL Connector/J 8 lists every database's tables, and
    * the schema plan would then see foreign (even system) tables as
    * droppable strays. Char/binary types re-render with their size so the
    * comparison against declared `varchar(n)` strings works. */
  def observedCatalog(conn: java.sql.Connection): SchemaSync.Catalog = {
    val md = conn.getMetaData
    val catalog = conn.getCatalog
    val tables = scala.collection.mutable.ListBuffer.empty[String]
    val trs = md.getTables(catalog, null, "%", Array("TABLE"))
    while (trs.next()) tables += trs.getString("TABLE_NAME")
    // table names are LIKE patterns to getColumns: escape _ and % or a
    // name like user_stats also matches user1stats and merges its columns
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    def literal(name: String): String =
      name.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    tables.toList.map { t =>
      val cols = scala.collection.mutable.ListBuffer.empty[(String, String)]
      val crs = md.getColumns(catalog, null, literal(t), "%")
      while (crs.next()) {
        val typ = crs.getString("TYPE_NAME").toLowerCase
        val rendered =
          if (typ.endsWith("char") || typ.endsWith("binary"))
            s"$typ(${crs.getInt("COLUMN_SIZE")})"
          else typ
        cols += crs.getString("COLUMN_NAME") -> rendered
      }
      t -> (cols.toList: Seq[(String, String)])
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val parsed = ConfigParser.parse(
      Files.readString(Paths.get(args.configPath)))
    val cfg = parsed.copy(
      source = args.inp.getOrElse(parsed.source),
      sink = args.out.getOrElse(parsed.sink))
    val spark = GraftSession.start(
      sys.env.getOrElse("SPARK_MASTER", "local[*]"), 32,
      "spark.app.name" -> "graft-daemon", "spark.ui.enabled" -> "true")
    val props = new Properties()
    val repl = new Replicator(spark, cfg, cfg.sink, props)
    val observed = graft.sink.UpsertWriter.withConnection(cfg.sink, props)(observedCatalog)
    // The source seam: a mongodb:// `inp` URI selects the live connector
    // binding; the harness binding reads the parquet snapshots + oplog
    // segment dirs the sandbox provides.
    val source = graft.sources.SourceProvider.forConfig(
      spark, cfg.source, args.snapshotDir, args.segmentsDir)
    val query = repl.run(
      observed,
      source,
      sinkIds = spec =>
        spark.read.format("jdbc")
          .option("url", cfg.sink).option("dbtable", spec.name).load()
          .select(spec.pk),
      checkpointDir = args.checkpointDir,
      force = args.force,
      zerop = args.zerop)
    query.awaitTermination() // tail forever (run.go:330-334)
  }
}
