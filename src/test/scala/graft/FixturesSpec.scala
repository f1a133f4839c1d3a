package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.Fixtures
import graft.tables.Tables

/** The demo registry's fixture store: entries follow the content of the
  * tables they derive from, session-scoped values follow the session,
  * and a first touch from several threads builds once.
  */
class FixturesSpec extends SparkTestBase {

  /** Write a documents table of `n` docs (ids 0 until n, every third
    * one in "de", the rest "en") under `dir`. */
  private def writeDocs(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, s"doc $i", if (i % 3 == 0) "de" else "en", "t", 5L + i)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_fixtures_$tag").toString

  test("rewriting a corpus at the same dir rebuilds both a value " +
       "fixture and a frame fixture") {
    val dir = tmpDir("rewrite")
    val builds = new AtomicInteger(0)
    def count(): Long = Fixtures.value("spec_count", dir, "documents") {
      builds.incrementAndGet()
      Tables.documents(spark, dir).count()
    }
    def framed(): Long = Fixtures.frame("spec_ids", spark, dir,
      "documents")(Tables.documents(spark, dir).select("doc_id")).count()
    writeDocs(dir, 3)
    assert(count() == 3L && count() == 3L && builds.get == 1)
    assert(framed() == 3L)
    writeDocs(dir, 7)
    assert(count() == 7L && builds.get == 2)
    assert(framed() == 7L)
  }

  test("a session-gated fixture built in one session is rebuilt in a " +
       "new session") {
    import spark.implicits._
    val dir = tmpDir("session")
    (0 until 16).map(i => (i.toLong, Array(i.toFloat, (i % 5).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val r1 = Fixtures.routing(spark, dir)
    assert(Fixtures.routing(spark, dir) eq r1)
    val other = spark.newSession()
    val r2 = Fixtures.routing(other, dir)
    assert(!(r2 eq r1) && (r2.members.sparkSession eq other))
    // the session-free model under it is shared, not retrained
    assert(Fixtures.kmeansModel(other, dir) eq Fixtures.kmeansModel(spark, dir))
  }

  test("concurrent first touches of one fixture build it once") {
    val dir = tmpDir("concurrent")
    writeDocs(dir, 2)
    val builds = new AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(() =>
        Fixtures.value("spec_once", dir, "documents") {
          builds.incrementAndGet(); Thread.sleep(100); builds.get
        })).map(_.get())
      assert(builds.get == 1 && results.toSet == Set(1))
    } finally pool.shutdown()
  }

  test("partition_prune after a documents rewrite at the same dir " +
       "returns the new corpus's rows") {
    val dir = tmpDir("prune")
    def enRow(): (Long, Long) = {
      val r = SparkEntry.queries("partition_prune")(spark, dir).collect()
      (r.head.getLong(1), r.head.getLong(2))
    }
    writeDocs(dir, 6)      // en: 1, 2, 4, 5
    assert(enRow() == ((4L, 6L + 7L + 9L + 10L)))
    writeDocs(dir, 9)      // en adds 7, 8
    assert(enRow() == ((6L, 6L + 7L + 9L + 10L + 12L + 13L)))
  }
}
