package graft.perfbench

/** `Main <run-config.json>`: runs one workload and writes its raw
  * measurements as JSON to the config's `result` path. */
object Main {
  def main(args: Array[String]): Unit = {
    val status =
      try {
        val c = Io.readConf(args(0))
        val out = c.str("workload") match {
          case "cdc_tail" | "cdc_bulk"             => Cdc.run(c)
          case "registry"                          => Registry.run(c)
          case "oracle_sql" =>
            Map("sql" -> c.strs("queries").map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Io.writeAtomic(c.str("result"), Io.json(out))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(status)
  }
}
