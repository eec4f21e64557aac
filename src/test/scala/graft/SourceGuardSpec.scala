package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-tree guards that keep five consolidations from being undone:
  * every local Spark session comes from `GraftConf.local`, the engine's
  * `AckTrackingQueue` is the one ack state machine and the streaming
  * operators no job starts stay gone, no keyed state returns to the
  * `*GroupsWithState` APIs, HTTP/2 is the one network dispatch protocol,
  * and Netty's codec is its one implementation. Runs from the project
  * root. */
class SourceGuardSpec extends AnyFunSuite {

  private def files(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  private def containing(paths: Seq[Path], text: String): Seq[Path] =
    paths.filter(p => Files.readString(p).contains(text))

  test("SparkSession.builder() appears in src/main only in control/GraftConf.scala") {
    val offenders = containing(
      files("src/main/scala").filterNot(_.endsWith(Paths.get("control", "GraftConf.scala"))),
      "SparkSession.builder()")
    assert(offenders.isEmpty,
      s"build local sessions with GraftConf.local(cpus), not by hand: ${offenders.mkString(", ")}")
  }

  test("the retired ack operators and uncalled streams are named nowhere under src/") {
    // assembled, so this file does not name them either; the sessionizer
    // only as a whole word, so SessionOps' q16 query function does not
    // match, and the engine's windowed tracker only as a call, so prose
    // and query names such as q04_throughput_window do not
    val retired = Seq("AckState" + "Op", "AckState" + "Tws", "Decon" + "Stream",
      "Calibration" + "Stream", "Diversity" + "Stream", "\\b" + "Session" + "ize\\b",
      "Ingest" + "Funnel", "NearDup" + "Stream", "Novelty" + "Stream", "Drift" + "Stream",
      "HotKey" + "Stream", "Tokenizer" + "Stream", "Index" + "Stream", "Curation" + "Stream",
      "Pack" + "Stream", "Stream" + "Dedup", "Histogram" + "Sketch", "Monitor" + "Hub",
      "/status/" + "monitors", "\\b" + "through" + "put\\(").map(_.r)
    val all = files("src")
    val offenders = for {
      name <- retired
      p <- all if name.findFirstIn(Files.readString(p)).isDefined
    } yield s"$name in $p"
    assert(offenders.isEmpty,
      "the engine's AckTrackingQueue is the one ack state machine and no job starts the " +
        s"retired streams or their helpers: ${offenders.mkString(", ")}")
  }

  test("no flatMapGroupsWithState or mapGroupsWithState under src/main") {
    val offenders = containing(files("src/main"), "Groups" + "WithState")
    assert(offenders.isEmpty,
      s"keyed state is a transformWithState StatefulProcessor; found in ${offenders.mkString(", ")}")
  }

  test("the retired framed-socket protocol and its helpers are named nowhere under src/") {
    // assembled, so this file does not name them either
    val retired = Seq("Socket" + "Dispatcher", "PipelinedSocket" + "Dispatcher",
      "SocketConsumer" + "Server", "Batch" + "Budget", "Wire" + "Probe")
    val all = files("src")
    val offenders = for {
      name <- retired
      p <- containing(all, name)
    } yield s"$name in $p"
    assert(offenders.isEmpty,
      "MultiplexedHttp2Dispatcher with Http2ConsumerServer is the one network dispatch " +
        s"path: ${offenders.mkString(", ")}")
  }

  test("the hand-rolled HTTP/2 frame layer, HPACK subset and reader threads are named nowhere under src/") {
    // assembled, so this file does not name them either
    val retired = Seq("read" + "Frame", "write" + "Frame", "Pre" + "face", "grpc" + "Frame",
      "grpc" + "Unframe", "encode" + "Headers", "decode" + "Headers", "Hpack" + "Int",
      "graft-h2mux" + "-read", "graft-h2" + "-serve-", "firstStream" + "Id")
    val all = files("src")
    val offenders = for {
      name <- retired
      p <- containing(all, name)
    } yield s"$name in $p"
    assert(offenders.isEmpty,
      "Netty's netty-codec-http2 does the framing, HPACK and flow control for " +
        s"MultiplexedHttp2Dispatcher and Http2ConsumerServer: ${offenders.mkString(", ")}")
  }
}
