package perfbench

/** Prints the DuckDB oracle SQL of every `catalog_batch` query as one
  * JSON object (name → SQL); `refresh_hashes.py` evaluates it to refresh
  * `expected_hashes.json`.
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(org.json4s.jackson.Serialization.write(Catalog.Groups.flatMap(_._2).map { n =>
      n -> graft.Queries.all.find(_.name == n).flatMap(_.oracle)
        .getOrElse(sys.error(s"$n has no oracle SQL"))
    }.toMap)(org.json4s.DefaultFormats))
}
