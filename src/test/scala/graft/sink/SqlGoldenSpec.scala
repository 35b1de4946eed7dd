package graft.sink

import graft.config.{ColumnSpec, TableSpec}
import org.scalatest.funsuite.AnyFunSuite

/** Golden statements for every SQL shape the sink generates, each also
  * validated against the recorded MySQL 8 grammar ([[MySqlGrammar]]).
  * Any dialect drift — quoting, ODKU form, clause order, type literals —
  * fails on the exact expected string, not just a regex.
  */
class SqlGoldenSpec extends AnyFunSuite {

  private val users = TableSpec("users", Seq(
    ColumnSpec("name", "varchar(100)"),
    ColumnSpec("visits", "bigint(20)"),
    ColumnSpec("score", "double")))

  test("golden: full upsert") {
    val sql = MySqlDialect.upsertAll(users).sql
    assert(sql ==
      "INSERT INTO `users` (`_id`, `name`, `visits`, `score`) VALUES (?, ?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE `name`=VALUES(`name`), `visits`=VALUES(`visits`), " +
        "`score`=VALUES(`score`)")
    assert(MySqlGrammar.validate(sql) == "insert_odku")
  }

  test("golden: partial upsert, incl. the empty-present no-op form") {
    val sql = UpsertWriter.partialUpsertSql(users, Seq("score"))
    assert(sql ==
      "INSERT INTO `users` (`_id`, `score`) VALUES (?, ?) " +
        "ON DUPLICATE KEY UPDATE `score`=VALUES(`score`)")
    assert(MySqlGrammar.validate(sql) == "insert_odku")
    val empty = UpsertWriter.partialUpsertSql(users, Seq.empty)
    assert(empty ==
      "INSERT INTO `users` (`_id`) VALUES (?) ON DUPLICATE KEY UPDATE `_id`=VALUES(`_id`)")
    assert(MySqlGrammar.validate(empty) == "insert_odku")
  }

  test("golden: delete, offset upsert, offset read, state table") {
    assert(UpsertWriter.deleteSql(users) == "DELETE FROM `users` WHERE `_id` = ?")
    assert(UpsertWriter.offsetUpsertSql ==
      "INSERT INTO `momyre` (`name`, `value`) VALUES ('timestamp', ?) " +
        "ON DUPLICATE KEY UPDATE `value`=VALUES(`value`)")
    assert(UpsertWriter.readOffsetSql ==
      "SELECT `value` FROM `momyre` WHERE `name` = 'timestamp'")
    assert(UpsertWriter.createStateTableSql ==
      "CREATE TABLE IF NOT EXISTS `momyre` (`name` varchar(100) NOT NULL, " +
        "`value` blob, PRIMARY KEY (`name`))")
    Seq(UpsertWriter.deleteSql(users), UpsertWriter.offsetUpsertSql,
      UpsertWriter.readOffsetSql, UpsertWriter.createStateTableSql)
      .foreach(MySqlGrammar.validate)
  }

  test("golden: schema-sync DDL plan on a fresh catalog") {
    val plan = SchemaSync.plan(
      graft.config.MappingConfig("mongodb://src/app", "mysql://dst/sink", Seq(users)),
      observed = Map.empty, force = false)
    assert(plan.ddl.map(_.sql) == Seq(
      "CREATE TABLE `users` (`_id` varchar(24) NOT NULL, PRIMARY KEY (`_id`))",
      "ALTER TABLE `users` ADD COLUMN `name` varchar(100) NULL",
      "ALTER TABLE `users` ADD COLUMN `visits` bigint(20) NULL",
      "ALTER TABLE `users` ADD COLUMN `score` double NULL",
      "ALTER TABLE `users` CHANGE `name` `name` varchar(100) NULL AFTER `_id`",
      "ALTER TABLE `users` CHANGE `visits` `visits` bigint(20) NULL AFTER `name`",
      "ALTER TABLE `users` CHANGE `score` `score` double NULL AFTER `visits`"))
    plan.ddl.map(_.sql).foreach(MySqlGrammar.validate)
  }

  test("grammar rejects non-MySQL dialects and malformed statements") {
    val bad = Seq(
      // ANSI/Postgres double-quoted identifiers
      """INSERT INTO "users" ("_id") VALUES (?) ON DUPLICATE KEY UPDATE "_id"=VALUES("_id")""",
      // Postgres upsert
      "INSERT INTO `users` (`_id`) VALUES (?) ON CONFLICT (`_id`) DO NOTHING",
      // multi-row VALUES (needs rewriteBatchedStatements, not generated here)
      "INSERT INTO `users` (`_id`) VALUES (?), (?) ON DUPLICATE KEY UPDATE `_id`=VALUES(`_id`)",
      // dangling ODKU
      "INSERT INTO `users` (`_id`) VALUES (?) ON DUPLICATE KEY UPDATE ",
      // column/value arity mismatch
      "INSERT INTO `users` (`_id`, `name`) VALUES (?) ON DUPLICATE KEY UPDATE `name`=VALUES(`name`)",
      // ODKU referencing a column outside the insert list
      "INSERT INTO `users` (`_id`) VALUES (?) ON DUPLICATE KEY UPDATE `name`=VALUES(`name`)",
      // unquoted identifier
      "DELETE FROM users WHERE `_id` = ?",
      // unknown type literal (SQL Server-ism)
      "ALTER TABLE `users` ADD COLUMN `n` nvarchar(10) NULL",
      // PK not among columns
      "CREATE TABLE `t` (`a` double NULL, PRIMARY KEY (`b`))")
    bad.foreach { sql =>
      assertThrows[java.sql.SQLSyntaxErrorException](MySqlGrammar.validate(sql))
    }
  }
}
