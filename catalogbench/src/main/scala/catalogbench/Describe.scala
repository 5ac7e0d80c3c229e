package catalogbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** Writes the workload definitions and the DuckDB oracle SQL of their
  * queries as one JSON object, for `run.py` and `oracles.py`:
  * `{workload: {"state", "tables", "groups": {group: [query]},
  * "sql": {query: sql}}}`. Needs no Spark session.
  *
  * Usage: catalogbench.Describe OUT_FILE
  */
object Describe {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    def list(xs: Seq[String]) = xs.map(Json.str).mkString("[", ", ", "]")
    val json = Workloads.all.values.toSeq.sortBy(_.name).map { w =>
      val missing = w.queries.filterNot(sql.contains)
      require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
      val groups = w.groups.map { case (g, qs) => s"${Json.str(g)}: ${list(qs)}" }
      val sqls = w.queries.map(q => s"${Json.str(q)}: ${Json.str(sql(q))}")
      s"""${Json.str(w.name)}: {"state": ${Json.str(w.state)}, """ +
        s""""tables": ${list(w.tables)}, "groups": ${groups.mkString("{", ", ", "}")}, """ +
        s""""sql": ${sqls.mkString("{", ",\n", "}")}}"""
    }
    Files.writeString(Paths.get(args(0)), json.mkString("{", ",\n", "}"))
  }
}
