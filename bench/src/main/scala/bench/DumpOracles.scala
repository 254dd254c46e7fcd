package bench

import java.nio.file.{Files, Paths}

/** Writes the query lists of the query workloads and the DuckDB oracle SQL
  * (`graft.SparkEntry.oracleSql`) of each query as one JSON object, for
  * `run.py` to evaluate before the JVM run. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val names = QueryMix.lists.values.flatten.toSeq.distinct.sorted
    Files.writeString(Paths.get(args(0)), Json.obj(Seq(
      "workloads" -> Json.obj(QueryMix.lists.toSeq.sortBy(_._1).map { case (w, ns) =>
        w -> ns.map(Json.str(_)).mkString("[", ", ", "]") }),
      "sql" -> Json.obj(names.map(n => n -> Json.str(sql(n)))))))
  }
}
