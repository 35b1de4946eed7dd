package graft.sink

import graft.config.{ColumnSpec, TableSpec}
import org.scalatest.funsuite.AnyFunSuite

class UpsertWriterSpec extends AnyFunSuite {

  val spec = TableSpec("users", Seq(
    ColumnSpec("name", "varchar(100)"),
    ColumnSpec("cfg.pub", "tinyint(1)")))

  test("full upsert covers pk + every declared sink column (mysql.go:376-431)") {
    assert(MySqlDialect.upsertAll(spec).sql ==
      "INSERT INTO `users` (`_id`, `name`, `cfg_pub`) VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE `name`=VALUES(`name`), `cfg_pub`=VALUES(`cfg_pub`)")
  }

  test("partial upsert touches only present columns (mysql.go:449-476)") {
    assert(UpsertWriter.partialUpsertSql(spec, Seq("name")) ==
      "INSERT INTO `users` (`_id`, `name`) VALUES (?, ?) " +
        "ON DUPLICATE KEY UPDATE `name`=VALUES(`name`)")
  }

  test("delete is keyed on the pk (mysql.go:516-523)") {
    assert(UpsertWriter.deleteSql(spec) == "DELETE FROM `users` WHERE `_id` = ?")
  }

  test("offset co-commit statements target the state table (mysql.go:536-588)") {
    assert(UpsertWriter.offsetUpsertSql.startsWith("INSERT INTO `momyre`"))
    assert(UpsertWriter.readOffsetSql ==
      "SELECT `value` FROM `momyre` WHERE `name` = 'timestamp'")
    assert(UpsertWriter.createStateTableSql.contains("IF NOT EXISTS"))
  }
}
