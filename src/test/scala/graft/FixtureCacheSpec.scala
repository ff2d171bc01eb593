package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.FixtureCache`, the one build-once-per-fixture rule behind the
  * IVF centers, the PQ codebooks, the crowd-risk model and the events
  * ts-unit sniff. The table file's bytes are never read — only its
  * mtime and size — so a scratch file stands in for a parquet table. */
class FixtureCacheSpec extends AnyFunSuite {

  private def scratchTable(): (String, java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture_cache").toString
    val f = new java.io.File(s"$dir/t.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    (dir, f)
  }

  test("reused while the content signature holds, replaced when the table changes") {
    val (dir, f) = scratchTable()
    val cache = new Tables.FixtureCache[Array[Int]]("t")
    val builds = new AtomicInteger()
    def get() = cache(dir) { builds.incrementAndGet(); Array(builds.get) }
    val first = get()
    assert(get() eq first)
    assert(builds.get == 1)
    val sig = cache.entry(dir).get._1
    assert(f.setLastModified(f.lastModified() + 60000))
    val second = get()
    assert(builds.get == 2 && !(second eq first))
    assert(cache.entry(dir).get._1 != sig, "the dir's one entry carries the new signature")
    assert(get() eq second)
  }

  test("an unstat_ signature is never cached under: every call builds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture_cache").toString + "/missing"
    val cache = new Tables.FixtureCache[String]("t")
    val builds = new AtomicInteger()
    cache(dir)(s"v${builds.incrementAndGet()}")
    cache(dir)(s"v${builds.incrementAndGet()}")
    assert(builds.get == 2)
    assert(cache.entry(dir).isEmpty)
  }

  test("two threads asking for one dir at once build once") {
    val (dir, _) = scratchTable()
    val cache = new Tables.FixtureCache[Array[Int]]("t")
    val builds = new AtomicInteger()
    val start = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        cache(dir) { builds.incrementAndGet(); Thread.sleep(200); Array(1) }
      }))
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values(0) eq values(1))
    } finally pool.shutdownNow()
  }

  test("the build thunk is released once the value is built; a failed build leaves no entry") {
    val (dir, _) = scratchTable()
    val cache = new Tables.FixtureCache[String]("t")
    intercept[IllegalStateException](cache(dir)(throw new IllegalStateException("no fit")))
    assert(cache.entry(dir).isEmpty)
    cache(dir)("built")
    val holder = cache.entry(dir).get._2
    assert(holder.released)
    assert(holder.value == "built")
  }
}
