package graft

/** Regenerates the committed ROWS_ONLY.json from the RowsOnly
  * declarations in SparkEntry.board (QueriesSmokeSpec fails the suite
  * when the two drift).
  *
  *   sbt "Test/runMain graft.RowsOnlyGen"
  */
object RowsOnlyGen {
  def main(args: Array[String]): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("ROWS_ONLY.json"), SparkEntry.rowsOnlyJson)
    println(s"wrote ROWS_ONLY.json (${SparkEntry.rowsOnly.size} entries)")
  }
}
