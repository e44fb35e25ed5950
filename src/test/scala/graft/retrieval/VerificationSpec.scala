package graft.retrieval

import org.scalatest.funsuite.AnyFunSuite

class VerificationSpec extends AnyFunSuite {

  test("cross-verification: consistent candidates verified, outlier contradicted") {
    val verdicts = Verification.crossVerify(Seq(
      (1L, "the deploy uses canary rollout with traffic slices"),
      (2L, "canary rollout slices traffic during the deploy"),
      (3L, "unrelated text about cooking pasta recipes")))
    val byId = verdicts.map(v => v.id -> v.category).toMap
    assert(byId(1L) == "verified" && byId(2L) == "verified")
    assert(byId(3L) == "contradicted")
  }

  test("single candidate is unverifiable") {
    assert(Verification.crossVerify(Seq((1L, "anything"))).head.category == "unverifiable")
  }

  test("cache: hit within TTL, miss after expiry, LRU eviction, stats") {
    val c = new RetrievalCache[String](ttlMillis = 100, maxEntries = 2)
    val k1 = c.key("agent", "proj", "query one")
    assert(c.key("agent", "proj", "query one") == k1)          // deterministic
    assert(c.key("agentp", "roj", "query one") != k1)          // length-prefixed: no concat collision
    c.put(k1, "result1", nowMillis = 0)
    assert(c.get(k1, nowMillis = 50).contains("result1"))      // hit inside TTL
    assert(c.get(k1, nowMillis = 200).isEmpty)                 // expired
    c.put("a", "1", 0); c.put("b", "2", 0); c.put("c", "3", 0) // cap 2 → evict LRU
    assert(c.get("a", 1).isEmpty && c.get("c", 1).contains("3"))
    val (hits, misses, size) = c.stats
    assert(hits >= 2 && misses >= 2 && size <= 2)
  }
}
