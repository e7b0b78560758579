package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Bench reads the committed `bench_full.json` back as the baseline of
  * its isolation re-time pass. */
class BenchRecordSpec extends AnyFunSuite {

  private lazy val committed = Files.readString(Paths.get("bench_full.json"))
  private lazy val committedSf = "\"sf\":\"([^\"]*)\"".r
    .findFirstMatchIn(committed).map(_.group(1)).get

  /** The string-index reader Bench used before json4s: the reference
    * the json4s reading must reproduce on the same file. */
  private def legacyTimings(txt: String, sfDir: String): Map[String, Double] =
    if (!txt.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
    else {
      val qs = txt.indexOf("\"queries\":{")
      val qe = txt.indexOf("}", qs)
      txt.substring(qs + "\"queries\":{".length, qe).split(",")
        .flatMap { kv =>
          kv.split(":", 2) match {
            case Array(k, v) =>
              try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
    }

  test("the committed record parses to the same queries map the legacy reader gives") {
    val parsed = Bench.prevTimings(committed, committedSf)
    assert(parsed.nonEmpty)
    assert(parsed == legacyTimings(committed, committedSf))
  }

  test("a record taken at a different sf parses to an empty map") {
    assert(Bench.prevTimings(committed, committedSf + "-other").isEmpty)
  }
}
