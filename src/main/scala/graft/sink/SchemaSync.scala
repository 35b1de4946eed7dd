package graft.sink

import graft.config.MappingConfig

/** D1: schema reconciliation (reference `SyncTablesConfig`,
  * `mysql.go:146-290`) as a PURE planner: observed catalog + declared
  * config → ordered DDL plan + the set of columns that need a re-snapshot
  * (`resync_columns`, `mysql.go:147-148`, consumed at `run.go:173-200`).
  *
  * Executing the plan is a thin JDBC loop (no Spark primitive exists for
  * external-RDBMS DDL); planning is deterministic and fully unit-tested.
  * Reference semantics preserved exactly, including the destructive ones:
  *   - unmapped tables: plan FAILS without `force` (`mysql.go:167-169`),
  *     drops them with it (`mysql.go:170-177`);
  *   - unmapped or type-mismatched columns (destructive DROP, or DROP +
  *     re-ADD + resync for type migration, `mysql.go:223-249`): plan FAILS
  *     without `force` (`mysql.go:238-240`), executes with it;
  *   - missing tables created with only the `_id` PK (`mysql.go:183-198`);
  *   - missing columns added NULL-able (`mysql.go:250-266`) → resync;
  *   - columns reordered to declared order via ALTER … AFTER
  *     (`mysql.go:267-285`).
  */
object SchemaSync {

  sealed trait Ddl { def sql: String }
  final case class CreateTable(table: String, pk: String = "_id") extends Ddl {
    // the planner honors spec.pk everywhere else, so the created table
    // must carry the SAME key column — a hardcoded `_id` under a custom
    // pk would plan upserts against a column that does not exist
    def sql = s"CREATE TABLE `$table` (`$pk` varchar(24) NOT NULL, PRIMARY KEY (`$pk`))"
  }
  final case class DropTable(table: String) extends Ddl {
    def sql = s"DROP TABLE `$table`"
  }
  final case class AddColumn(table: String, column: String, declaredType: String) extends Ddl {
    def sql = s"ALTER TABLE `$table` ADD COLUMN `$column` $declaredType NULL"
  }
  final case class DropColumn(table: String, column: String) extends Ddl {
    def sql = s"ALTER TABLE `$table` DROP COLUMN `$column`"
  }
  final case class ReorderColumn(table: String, column: String, declaredType: String, after: String) extends Ddl {
    def sql = s"ALTER TABLE `$table` CHANGE `$column` `$column` $declaredType NULL AFTER `$after`"
  }

  /** Observed sink catalog: table → ordered (column, typeString). */
  type Catalog = Map[String, Seq[(String, String)]]

  final case class Plan(ddl: Seq[Ddl], resyncColumns: Map[String, Set[String]])

  /** Raised when the plan would destroy sink data and `force` is false —
    * the reference refuses rather than proceeding (`mysql.go:167-169` for
    * tables, `mysql.go:238-240` for columns). */
  final case class ForceRequired(message: String) extends RuntimeException(message)

  def plan(config: MappingConfig, observed: Catalog, force: Boolean): Plan = {
    val ddl = Seq.newBuilder[Ddl]
    val resync = scala.collection.mutable.Map.empty[String, Set[String]]
    val declaredTables = config.tables.map(_.name).toSet

    // unmapped tables are dropped; without force this REFUSES like the
    // reference (mysql.go:167-169), never silently skips. State table survives.
    val strayTables = observed.keys.toSeq.sorted
      .filter(t => !declaredTables.contains(t) && t != UpsertWriter.StateTable)
    if (strayTables.nonEmpty && !force)
      throw ForceRequired(s"Cannot remove tables ${strayTables.mkString(", ")} without --force")
    strayTables.foreach(t => ddl += DropTable(t))

    config.tables.foreach { spec =>
      val existing = observed.get(spec.name)
      if (existing.isEmpty) {
        // created with only the PK; every declared column is then "missing"
        ddl += CreateTable(spec.name, spec.pk)
      }
      val liveCols: Seq[(String, String)] =
        existing.getOrElse(Seq(spec.pk -> "varchar(24)"))
      val live = liveCols.toMap
      val declared = spec.columns.map(c => c.sinkName -> c.declaredType)
      val declaredNames = declared.map(_._1).toSet

      // columns to remove = unmapped ones (mysql.go:238-249) plus
      // type-mismatched ones slated for destructive recreate (mysql.go:223-236).
      // Both are data loss: without force this REFUSES (mysql.go:238-240).
      val strayCols = liveCols.map(_._1)
        .filter(c => c != spec.pk && !declaredNames.contains(c))
      val mismatched = declared.collect {
        case (name, typ) if live.get(name).exists(lt => !typeEq(lt, typ)) => name
      }
      val removals = strayCols ++ mismatched
      if (removals.nonEmpty && !force)
        throw ForceRequired(
          s"Cannot remove columns ${spec.name}.${removals.mkString("[", ", ", "]")} without --force")
      strayCols.foreach(c => ddl += DropColumn(spec.name, c))

      declared.foreach { case (name, typ) =>
        live.get(name) match {
          case None =>
            ddl += AddColumn(spec.name, name, typ)
            resync(spec.name) = resync.getOrElse(spec.name, Set.empty) + name
          case Some(liveType) if !typeEq(liveType, typ) =>
            // destructive type migration (mysql.go:223-236): drop + re-add
            ddl += DropColumn(spec.name, name)
            ddl += AddColumn(spec.name, name, typ)
            resync(spec.name) = resync.getOrElse(spec.name, Set.empty) + name
          case _ => // in sync
        }
      }

      // reorder every declared column to config order (mysql.go:267-285)
      declared.foldLeft(spec.pk) { case (after, (name, typ)) =>
        ddl += ReorderColumn(spec.name, name, typ, after)
        name
      }
    }
    Plan(ddl.result(), resync.toMap)
  }

  /** Execute a plan — the thin JDBC loop the scaladoc promises: each step
    * rendered in the sink's own grammar (steps the dialect cannot express,
    * e.g. column reorders on Derby, are skipped — they carry no data
    * semantics), one statement per step, in plan order, on the caller's
    * connection/transaction. Returns the number of statements executed.
    * Parity target `mysql.go:146-290` (the reference interleaves planning
    * and execution; the split here keeps planning pure and testable). */
  def execute(conn: java.sql.Connection, dialect: SqlDialect, plan: Plan): Int = {
    var n = 0
    plan.ddl.foreach { step =>
      dialect.renderDdl(step).foreach { sql =>
        val st = conn.prepareStatement(sql)
        try st.executeUpdate()
        finally st.close()
        n += 1
      }
    }
    n
  }

  /** MySQL reports types normalized (lowercase); compare case-insensitively
    * and whitespace-insensitively, like the reference's string compare after
    * its own normalization (`mysql.go:219-222`). Additionally, MySQL 8
    * drops integer DISPLAY widths (8.0.19+): a column declared
    * `bigint(20)` is observed back as `bigint` — without stripping the
    * width here, every int-typed column would read as a type mismatch and
    * be destructively migrated on every startup. `tinyint(1)` keeps its
    * width (the one exception MySQL preserves, as the BOOLEAN alias). */
  private def typeEq(a: String, b: String): Boolean =
    normalize(a) == normalize(b)

  private def normalize(t: String): String = {
    val base = t.toLowerCase.replaceAll("\\s+", "")
    // not anchored at end: attributes (unsigned/zerofill) follow the width;
    // the tinyint(1) exception must not catch tinyint(10)
    if (base.matches("tinyint\\(1\\)([^0-9].*)?")) base
    else base.replaceAll("^(bigint|integer|int|mediumint|smallint|tinyint)\\(\\d+\\)", "$1")
  }
}
