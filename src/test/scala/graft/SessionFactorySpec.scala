package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[Session.build]], which injects the SQL
  * functions at build time. A second builder call site, or a direct
  * registry write, would bring back sessions whose children lack the
  * functions.
  */
class SessionFactorySpec extends AnyFunSuite {
  private val factory = Paths.get("src/main/scala/graft/Session.scala")

  // split literals, so this file does not match its own needles
  private val builder = "SparkSession" + ".builder"
  private val register = "register" + "Function"
  private val slot = "@transient private " + "var"
  private val lock = "synchron" + "ized"
  private val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("only the session factory calls the session builder") {
    val all = sources
    assert(all.exists(_._1 == factory), s"factory not found at $factory")
    val others = all.collect { case (p, src) if p != factory && src.contains(builder) => p }
    assert(others.isEmpty, s"build sessions through graft.Session.build: ${others.mkString(", ")}")
  }

  test("no code writes into a session's function registry") {
    val hits = sources.collect { case (p, src) if src.contains(register) => p }
    assert(hits.isEmpty, s"inject functions through GraftExtensions instead: ${hits.mkString(", ")}")
  }

  test("SparkEntry shares artifacts through Memo, not hand-rolled locked slots") {
    val src = sources.collectFirst { case (p, src) if p == entry => src }
    assert(src.isDefined, s"SparkEntry not found at $entry")
    val hits = Seq(slot, lock).filter(src.get.contains)
    assert(hits.isEmpty, s"declare shared artifacts as a graft.Memo: found ${hits.mkString(", ")}")
  }
}
