package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The per-generation rule behind every fixture-derived artifact: one
  * entry per (dir, fixture generation, key); a regeneration evicts every
  * key of that dir through the eviction action; a value computed across
  * a regeneration is served once but never cached; a lost compute race
  * is evicted. No Spark — the fixture is a plain file.
  */
class GenerationCacheSpec extends AnyFunSuite {
  import java.nio.file.{Files, Paths}

  /** A fresh dir holding `fix.bin`; `regenerate` rewrites it in place
    * with a different size, which moves its generation stamp. */
  private final class Fixture {
    val dir: String = Tables.scratchDir("graft_gencache_spec_")
    private var size = 1
    regenerate()
    def regenerate(): Unit = {
      size += 1
      Files.write(Paths.get(dir, "fix.bin"), Array.fill[Byte](size)(7))
    }
  }

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  test("a second key on one generation computes separately; repeats hit") {
    val f = new Fixture
    val cache = GenerationCache[Int, String]("fix.bin")
    var computes = 0
    def get(k: Int) = cache(f.dir, k) { computes += 1; s"v$k#$computes" }
    assert(get(1) == "v1#1")
    assert(get(2) == "v2#2")
    assert(get(1) == "v1#1" && get(2) == "v2#2")
    assert(computes == 2)
  }

  test("a regeneration evicts every key of that dir and deletes evicted dirs") {
    val f = new Fixture
    val other = new Fixture
    val cache = GenerationCache.dirs[Int]("fix.bin", "graft_gencache_spec_v_")
    def write(tag: String)(out: String): Unit =
      Files.write(Paths.get(out, "tag.txt"), tag.getBytes("UTF-8"))
    val a1 = cache(f.dir, 1)(write("a1"))
    val a2 = cache(f.dir, 2)(write("a2"))
    val b1 = cache(other.dir, 1)(write("b1"))
    assert(Set(a1, a2, b1).size == 3 && Seq(a1, a2, b1).forall(exists))
    assert(cache(f.dir, 1)(_ => fail("hit expected")) == a1)

    f.regenerate()
    val a1New = cache(f.dir, 1)(write("a1'"))
    assert(a1New != a1)
    assert(!exists(a1) && !exists(a2), "evicted generation dirs must be deleted")
    assert(exists(b1) && cache(other.dir, 1)(_ => fail("hit expected")) == b1,
      "another dir's generation is untouched")
    assert(new String(Files.readAllBytes(Paths.get(a1New, "tag.txt")), "UTF-8") == "a1'")
  }

  test("a value computed across a regeneration is returned but not cached") {
    val f = new Fixture
    val cache = GenerationCache[Unit, String]("fix.bin")
    val stale = cache(f.dir, ()) { f.regenerate(); "stale" }
    assert(stale == "stale")
    assert(cache(f.dir, ())("fresh") == "fresh")
    assert(cache(f.dir, ())("again") == "fresh")
  }

  test("the losing value of two computes of one key is evicted") {
    val f = new Fixture
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val cache = new GenerationCache[Unit, String](_ => "fix.bin", evicted += _)
    // the outer compute finishes second, exactly as a slower thread would
    val got = cache(f.dir, ()) { cache(f.dir, ())("winner"); "loser" }
    assert(got == "winner")
    assert(evicted.toSeq == Seq("loser"))
    assert(cache(f.dir, ())("recomputed") == "winner")
  }

  test("evictWhere drops matching entries through the eviction action") {
    val f = new Fixture
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val cache = new GenerationCache[Int, String](_ => "fix.bin", evicted += _)
    cache(f.dir, 1)("one"); cache(f.dir, 2)("two")
    cache.evictWhere((_, k) => k == 1)
    assert(evicted.toSeq == Seq("one"))
    assert(cache(f.dir, 1)("one'") == "one'")
    assert(cache(f.dir, 2)("two'") == "two")
  }
}
