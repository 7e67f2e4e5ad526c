package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A build-once, serve-many artifact: `build` runs on the first
  * `apply(s, dir)` and its value is returned to every later call with
  * the same session (by identity) and the same `dir`. A call with a
  * different session or dir rebuilds and replaces the one slot.
  *
  * Each memo locks on its own monitor, so a caller of an artifact that
  * is already built never waits on another artifact's build. A build
  * may call other memos: it then holds its own lock while it takes
  * theirs. The "build calls" graph between [[SparkEntry]]'s memos has
  * no cycle (each is declared after the memos its build calls), so
  * these nested locks cannot deadlock.
  */
private[graft] final class Memo[T] private (
    val name: String, build: (SparkSession, String) => T) {
  private var slot: (SparkSession, String, T) = _

  def apply(s: SparkSession, dir: String): T = synchronized {
    if (slot != null && (slot._1 eq s) && slot._2 == dir) slot._3
    else {
      val v = build(s, dir)
      slot = (s, dir, v)
      v
    }
  }
}

private[graft] object Memo {

  /** Creates the memos of one owner and lists them in creation order;
    * a memo can only be created through a registry.
    */
  final class Registry {
    private val memos = ArrayBuffer.empty[Memo[_]]

    def apply[T](name: String)(build: (SparkSession, String) => T): Memo[T] = {
      val m = new Memo(name, build)
      synchronized(memos += m)
      m
    }

    def all: Seq[Memo[_]] = synchronized(memos.toList)
  }
}
