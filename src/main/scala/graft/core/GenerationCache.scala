package graft.core

/** Values derived from a fixture, built once per fixture generation — the
  * one owner of the rule every fixture-derived artifact (layouts, indexes,
  * sketch tables, BPE dictionaries, the near-dup pair graph) is cached by.
  *
  * An entry is keyed on (dir, generation stamp of `dir/<fixture>`, caller
  * key `K`), the stamp being [[Tables.fixtureStamp]]: fixtures get
  * regenerated in place under a running JVM (the round-8 ts drift arrived
  * that way), and a moved stamp makes the next lookup miss instead of
  * serving the stale value. On every lookup:
  *
  *  - every entry of the same `dir/<fixture>` at another generation is
  *    evicted, whatever its `K`, so the map stays bounded;
  *  - every evicted value goes through `evict` (dir-valued caches delete
  *    the dir, so a long-running JVM strands no derivation);
  *  - a value computed while the fixture changed is returned but not
  *    cached — it was derived from files the regeneration replaced;
  *  - when two threads compute one key, the losing value is evicted and
  *    the winner returned;
  *  - every lookup that computes adds one `generation_cache.miss` to the
  *    [[Ledger]], so a span's delta counts what the span built.
  *
  * `fixtureOf` names the fixture under `dir` that a key derives from;
  * most caches derive from one fixture for every key.
  */
final class GenerationCache[K, V](fixtureOf: K => String, evict: V => Unit) {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, Long, K), V]

  def apply(dir: String, key: K)(compute: => V): V = {
    val fixture = fixtureOf(key)
    val stamp = Tables.fixtureStamp(s"$dir/$fixture")
    evictKeys(k => k._1 == dir && k._2 != stamp && fixtureOf(k._3) == fixture)
    val k = (dir, stamp, key)
    entries.get(k) match {
      case Some(v) => v
      case None =>
        Ledger.add("generation_cache.miss")
        val v = compute
        if (Tables.fixtureStamp(s"$dir/$fixture") != stamp) v
        else entries.putIfAbsent(k, v) match {
          case None => v
          case Some(winner) => evict(v); winner
        }
    }
  }

  /** Evict (through `evict`) every entry whose (dir, key) matches `p`. */
  def evictWhere(p: (String, K) => Boolean): Unit =
    evictKeys(k => p(k._1, k._3))

  private def evictKeys(p: ((String, Long, K)) => Boolean): Unit =
    entries.keys.filter(p).foreach(k => entries.remove(k).foreach(evict))
}

object GenerationCache {
  /** Values derived from `dir/<fixture>`; eviction just drops them. */
  def apply[K, V](fixture: String): GenerationCache[K, V] =
    new GenerationCache[K, V](_ => fixture, _ => ())

  /** Dir-valued form: a miss creates a fresh [[Tables.scratchDir]] named
    * `prefix…`, hands it to the writer and caches it; eviction deletes it.
    * Caveat: a caller holding a LAZY frame over an evicted dir would scan
    * deleted files — Verify/Bench evaluate promptly and fixture
    * regeneration is quiescent during gate runs.
    */
  final class Dirs[K](fixture: String, prefix: String) {
    private val cache =
      new GenerationCache[K, String](_ => fixture, Tables.deleteRecursively)

    def apply(dir: String, key: K)(write: String => Unit): String =
      cache(dir, key) {
        val out = Tables.scratchDir(prefix)
        write(out)
        out
      }
  }

  def dirs[K](fixture: String, prefix: String): Dirs[K] =
    new Dirs[K](fixture, prefix)
}
