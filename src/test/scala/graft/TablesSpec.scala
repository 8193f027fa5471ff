package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-process `Tables` memos key on the table file's identity, so a
  * table rewritten at the same path while the JVM lives is read afresh.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("rowCount sees a table rewritten in-process with a different row count") {
    val dir = java.nio.file.Files.createTempDirectory("tables-memo").toFile
    try {
      val path = s"$dir/t.parquet"
      spark.range(3).write.parquet(path)
      assert(Tables.rowCount(spark, dir.toString, "t") == 3L)
      spark.range(7).coalesce(1).write.mode("overwrite").parquet(path)
      assert(Tables.rowCount(spark, dir.toString, "t") == 7L)
    } finally {
      val walk = java.nio.file.Files.walk(dir.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }
}
