package graft

/** The JSONL/CSV ingestion gates run over the word-soup sf corpus, which
  * never stresses escaping. This spec runs the same stage→read→digest
  * path over ADVERSARIAL strings — embedded quotes, commas, backslashes,
  * JSON-special characters, unicode — and requires digest parity with a
  * direct parquet read. A broken quote or escape rule flips text_md5. */
class SourceRoundtripSpec extends SparkSuite {

  test("JSONL and CSV survive quotes, commas, backslashes, unicode") {
    import spark.implicits._
    val nasty = Seq(
      (0L, """he said "hello, world" and left""", "en", "web", 0L),
      (1L, """backslash \ and \\ double, plus /slash/""", "en", "web", 0L),
      (2L, """comma, separated, values, everywhere""", "en", "web", 0L),
      (3L, """json specials: { } [ ] : "quoted" A""", "en", "web", 0L),
      (4L, "unicode: café 日本語 😀", "en", "web", 0L),
      (5L, "trailing space ", "en", "web", 0L))
    val dir = java.nio.file.Files.createTempDirectory("graft-srcrt")
    try {
      nasty.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      val direct = spark.read.parquet(dir.resolve("documents.parquet").toString)
        .selectExpr("doc_id", "md5(text) AS text_md5")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      for (fmt <- Seq("jsonl", "csv")) {
        val got = (fmt match {
          case "jsonl" => graft.sources.DocumentSources.jsonlRoundtrip(spark, dir.toString)
          case "csv"   => graft.sources.DocumentSources.csvRoundtrip(spark, dir.toString)
        }).select("doc_id", "text_md5")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        assert(got == direct, s"$fmt round-trip corrupted adversarial text")
      }
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
