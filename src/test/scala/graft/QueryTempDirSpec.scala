package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

/** Registry queries that save a standing index to a temp store and reload
  * it (q123's BM25 index, q136's fuzzy dictionary) must delete that store
  * once their result no longer reads it: run each on the sf0.001 tables,
  * write its result, and check `java.io.tmpdir` holds no new `graft_*`
  * entry. */
class QueryTempDirSpec extends SparkTestBase {

  private def graftTempEntries(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith("graft_")).toSet

  test("q123_bm25_indexed and q136_fuzzy_index leave no graft_* temp dir once written") {
    // the sf0.001 tables of the flagship smoke check, found through its
    // plan so the directory stays named in one place
    val sfDir = new File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent
    val out = Files.createTempDirectory("query_tmpdir_spec").toFile
    try {
      for (name <- Seq("q123_bm25_indexed", "q136_fuzzy_index")) {
        val before = graftTempEntries()
        val path = new File(out, name).getPath
        SparkEntry.queries(name)(spark, sfDir).write.parquet(path)
        assert(spark.read.parquet(path).count() > 0, s"$name wrote no rows")
        val left = graftTempEntries() -- before
        assert(left.isEmpty, s"$name left temp entries: ${left.mkString(", ")}")
      }
    } finally FileUtils.deleteDirectory(out)
  }
}
