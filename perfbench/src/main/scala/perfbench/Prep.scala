package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Lists the oracle SQL of every batch query, for `perfbench/oracle.py` to
  * compute the expected results from.
  *
  * The data set is the engine's sf0.1 `events` and `documents` tables,
  * committed under the benchmark's `data/` directory (the measured queries
  * read no other table).
  */
object Prep {
  val DataSet = "sf0.1"

  def run(cache: Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val rows = BatchWorkload.queries.sorted.map { q =>
      val sql = oracle.getOrElse(q, throw new IllegalStateException(s"$q has no oracle SQL"))
      s"""{"query":"$q","sql":${Main.jsonStr(sql)}}"""
    }
    val out = cache.resolve("oracle")
    Files.createDirectories(out)
    Files.write(out.resolve("queries.json"), rows.mkString("[\n", ",\n", "\n]").getBytes(UTF_8))
  }
}
