package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The [[Pins]] scope contract: a scope releases exactly the pins made
  * inside it on its own thread, on success and on failure, and a pin made
  * outside any scope lives until `clearCache()`. Plus the source guard
  * that keeps every two-pass persist/unpersist behind `Pins`.
  */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def isPinned(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  private def frame(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, i % 3)).toDF("id", "g")

  test("a nested scope releases only its own pins") {
    Pins.scoped {
      val outer = Pins.pin(frame(10))
      val inner = Pins.scoped {
        val p = Pins.pin(frame(20))
        assert(isPinned(outer) && isPinned(p))
        p
      }
      assert(!isPinned(inner), "the inner scope kept its own pin")
      assert(isPinned(outer), "the inner scope released the outer scope's pin")
      assert(outer.count() == 10)
    }
  }

  test("a body that throws still releases its pins") {
    var pinned: DataFrame = null
    val e = intercept[IllegalStateException] {
      Pins.scoped {
        pinned = Pins.pin(frame(5))
        assert(isPinned(pinned))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!isPinned(pinned), "a failing body leaked its pin")
  }

  test("a pin made on another thread is not released by this thread's scope") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    var foreign: DataFrame = null
    Pins.scoped {
      // no scope is open on the worker thread: its pin is unscoped
      foreign = Await.result(Future(Pins.pin(frame(7))), 60.seconds)
    }
    try assert(isPinned(foreign), "this scope released another thread's pin")
    finally foreign.unpersist(blocking = false)
  }

  test("a pin made outside any scope survives until clearCache()") {
    val loose = Pins.pin(frame(9))
    Pins.scoped { assert(frame(3).count() == 3) }
    assert(isPinned(loose), "an unrelated scope released an unscoped pin")
    spark.catalog.clearCache()
    assert(!isPinned(loose))
  }

  test("source guard: the two-pass operators persist and release only through Pins") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    assert(java.nio.file.Files.isDirectory(dir),
      s"operator sources not found under ${dir.toAbsolutePath}")
    def lines(name: String): Seq[String] = java.nio.file.Files.readAllLines(
      dir.resolve(s"$name.scala"), java.nio.charset.StandardCharsets.UTF_8)
      .asScala.toSeq
    val guarded = Seq("TwoPass", "SurrogateKey", "Packing", "Sampling",
      "PrefixAgg", "QuotaView", "Release")
    val forbidden = Seq(".persist(", ".cache(", "unpersist(", "\"__call_tag\"")
    val hits = for {
      name <- guarded
      (line, i) <- lines(name).zipWithIndex
      token <- forbidden if line.contains(token)
    } yield s"$name.scala:${i + 1}: $token"
    assert(hits.isEmpty, "pin or release outside Pins:\n" + hits.mkString("\n"))
    // and Pins holds exactly one of each
    val pins = lines("Pins").filterNot(_.trim.startsWith("*"))
    assert(pins.count(_.contains(".persist(")) == 1)
    assert(pins.count(_.contains("unpersist(")) == 1)
  }
}
