package graft

import java.nio.file.{Files, Paths}

import graft.operators.Similarity

/** Standing artifacts ([[Standing]] — the Verify/Bench path) must be a pure
  * optimization: every consumer of every declared family returns identical
  * output with its artifacts built up front by [[Standing.warm]] and cold
  * after [[Standing.clear]] (where the graph tiers build lazily on first
  * use). The tests are derived from [[Standing.families]], so a new family
  * or consumer cannot escape them. Every OTHER suite runs cold, so plan pins
  * and determinism flips keep exercising the self-contained pipeline.
  */
class WarmSharedSpec extends SparkSpec {
  private def run(n: String): Seq[String] =
    SparkEntry.queries(n)(spark, sf).collect().map(_.toString).toSeq

  // Each consumer is compared once, under the first family that declares
  // it; Standing.warm builds every family its picked names consume.
  Standing.families.foldLeft(Set.empty[String]) { (compared, f) =>
    test(s"warm ${f.name} frames change no sharing query's output") {
      val names = (f.consumers -- compared).toSeq.sorted
      Standing.clear()
      val cold = names.map(n => n -> run(n)).toMap
      Standing.clear()
      try {
        Standing.warm(names, spark, sf)
        assert(Standing.keepIds.nonEmpty, "warm registered no checkpointed frames")
        names.foreach { n =>
          assert(run(n) === cold(n), s"$n diverges under the warm ${f.name} frames")
        }
      } finally Standing.clear()
    }
    compared ++ f.consumers
  }

  test("replacing or clearing a standing artifact releases its blocks") {
    Standing.clear()
    // The same fixture under a second path: a different dir key.
    val other = Files.createTempDirectory("standing").resolve("fixture")
    Files.createSymbolicLink(other, Paths.get(sf).toAbsolutePath)
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    try {
      Similarity.warmShared(spark, sf)
      val warmed = persisted
      assert(warmed > before, "warmShared persisted nothing")
      Similarity.warmShared(spark, sf)
      assert(persisted === warmed, "re-warming the same dir kept a second copy")
      Similarity.warmShared(spark, other.toString)
      assert(persisted === warmed, "the replaced artifact's blocks were kept")
    } finally {
      Standing.clear()
      Files.delete(other)
      Files.delete(other.getParent)
    }
    assert(persisted === before, "clear() left standing blocks behind")
  }
}
