package graft

import java.util.Locale

import graft.functions.{HashEmbeddingProvider, Word2VecEmbeddingProvider}
import org.apache.spark.sql.DataFrame

/** The one setup every `main` goes through: its locale pin and its
  * embedding-provider selection.
  */
class EntrypointSpec extends SparkSpec {

  test("under a native-digit default locale, Parquet writes work once the entrypoint pins the locale") {
    // Spark names part files in the default locale; under
    // th-TH-u-nu-thai an unpinned write fails on `part-๐๐๐๐๐-…`.
    val saved = Seq(Locale.Category.FORMAT, Locale.Category.DISPLAY).map(c => c -> Locale.getDefault(c))
    val savedDefault = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("th-TH-u-nu-thai"))
      Entrypoint.pinLocale()
      val path = s"$suiteTempDir/locale_pin"
      spark.range(5).write.parquet(path)
      assert(spark.read.parquet(path).count() == 5L)
    } finally {
      Locale.setDefault(savedDefault)
      saved.foreach { case (c, l) => Locale.setDefault(c, l) }
    }
  }

  test("SparkEntry refuses a native-digit default locale before any work; de-DE and en-US pass") {
    // No Parquet write runs under these locales: one such write leaves
    // the JVM unable to write Parquet for the rest of the suite.
    val saved = Seq(Locale.Category.FORMAT, Locale.Category.DISPLAY).map(c => c -> Locale.getDefault(c))
    val savedDefault = Locale.getDefault
    def under[T](tag: String)(body: => T): T =
      try {
        Locale.setDefault(Locale.forLanguageTag(tag))
        body
      } finally {
        Locale.setDefault(savedDefault)
        saved.foreach { case (c, l) => Locale.setDefault(c, l) }
      }
    for (tag <- Seq("th-TH-u-nu-thai", "ar-EG", "fa-IR", "hi-IN-u-nu-deva")) {
      val q = under(tag)(intercept[IllegalStateException](SparkEntry.queries))
      assert(q.getMessage.contains(tag), q.getMessage)
      val e = under(tag)(intercept[IllegalStateException](SparkEntry.entry(spark)))
      assert(e.getMessage.contains(tag), e.getMessage)
    }
    for (tag <- Seq("de-DE", "en-US")) under(tag) {
      assert(SparkEntry.queries.nonEmpty, tag)
      assert(SparkEntry.entry(spark).columns.contains("score"), tag)
    }
  }

  test("the provider selector picks w2v by name and hash otherwise, without reading the corpus") {
    def unread: DataFrame = throw new AssertionError("the hash provider evaluated its corpus")
    for (choice <- Seq(None, Some("hash"), Some("bert")))
      assert(Entrypoint.provider(unread, "text", choice) == ((HashEmbeddingProvider, "hash")), choice)
    import spark.implicits._
    val corpus = Seq("spark joins shuffle rows", "cosine similarity ranks vectors").toDF("text")
    val (p, name) = Entrypoint.provider(corpus, "text", Some("w2v"))
    assert(name == "w2v")
    assert(p.isInstanceOf[Word2VecEmbeddingProvider])
  }
}
