package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.SnapshotStore.{MetaFp, MetaKey, MetaLru}

/** The read-path metadata cache's bound, driven directly: weights
  * here are the values themselves. */
class MetaLruSpec extends AnyFunSuite {
  private val fp = MetaFp(1L, 1L)
  private def key(v: Long) = MetaKey("/t", v)

  test("an entry heavier than the whole bound is not cached and evicts nothing") {
    val lru = new MetaLru[Long](maxEntries = 8, maxWeight = 10L, w => w)
    lru.put(key(1), fp, 2L)
    lru.put(key(2), fp, 3L)
    lru.put(key(3), fp, 11L)
    assert(lru.get(key(1), fp).contains(2L))
    assert(lru.get(key(2), fp).contains(3L))
    assert(lru.get(key(3), fp).isEmpty)
  }

  test("within the bound, the least recently used entries go first") {
    val lru = new MetaLru[Long](maxEntries = 8, maxWeight = 10L, w => w)
    lru.put(key(1), fp, 4L)
    lru.put(key(2), fp, 4L)
    assert(lru.get(key(1), fp).nonEmpty) // key 2 is now the eldest
    lru.put(key(3), fp, 4L)
    assert(lru.get(key(1), fp).nonEmpty)
    assert(lru.get(key(2), fp).isEmpty)
    assert(lru.get(key(3), fp).nonEmpty)
  }
}
