package graft.compile

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The Catalyst compiler and the row interpreter implement the same
  * `mapped_line` contract — property-test them against each other over
  * random cells and a mapping exercising clean/map/match/priority/join/
  * format/daysafter. Divergence means one of them has drifted from
  * `mapper.rb`. */
class RowMapperPropertySpec extends SparkSpec {

  private val mapping = MappingLoader.loadTable(
    """|klass: K
       |columns:
       |- column: a
       |  mappings:
       |  - field: cleaned
       |    clean: :name
       |  - field: joined
       |    order: 1
       |    join: " "
       |  - field: best
       |- column: b
       |  mappings:
       |  - field: joined
       |    order: 2
       |  - field: best
       |    priority: 1
       |  - field: mapped
       |    map:
       |      x: mapped_x
       |      y: ''
       |- column: c
       |  mappings:
       |  - field: extracted
       |    match: !ruby/regexp /^id-(\w+)/
       |  - field: repl
       |    replace:
       |      ? !ruby/regexp /^id-(\w+)/
       |      : 'got \1 for $'
       |  - field: dated
       |    format: dd/mm/yyyy
       |- column: d
       |  mappings:
       |  - field: days
       |    daysafter: '1970-01-01'
       |""".stripMargin)

  private val compiler = MappingCompiler(mapping)
  private val merged = compiler.mergedColumns

  private val cellGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf("", " ", "  x  ", "x", "y", "id-abc42", "id-", "03/10/1978",
      "99/99/9999", "0", "7", "007", "-3", "-0", "1.5", "Bob, Smith.", "a`b", null: String,
      // array-cell shapes: valid JSON arrays (string + coerced), broken JSON
      "[\"id-abc42\",\"x\"]", "[1,2]", "[not json", "[]",
      // whitespace that is not all spaces: Ruby's blank? and strip sets
      "\t", "\u3000", "\u0000", "\r", " \tx  ", "\u00A0", " id-x\t"),
    Gen.listOfN(3, Gen.alphaChar).map(_.mkString(",")))

  private val rowGen: Gen[Seq[String]] = Gen.listOfN(4, cellGen)

  test("compiler and interpreter agree on fields + rawtext") {
    import spark.implicits._
    val batches = (0 until 8).flatMap { i =>
      Gen.listOfN(24, rowGen)
        .apply(Gen.Parameters.default, Seed(42L + i)).toSeq
    }
    batches.foreach { rows =>
      // interpreter
      val expected = rows.map { cells =>
        try Some(RowMapper.mappedLine(cells, merged))
        catch { case _: Exception => None }
      }
      // only compare rows where the interpreter succeeded (format errors
      // raise in both, but Spark aborts the whole batch)
      val okRows = rows.zip(expected).collect { case (r, Some(e)) => (r, e) }
      if (okRows.nonEmpty) {
        val df = okRows.map(_._1).zipWithIndex
          .map { case (cells, i) => ("f", i.toLong, cells) }
          .toDF("file", "lineno", "cells")
        val got = compiler.records(df).orderBy("index")
          .select("fields", "rawtext").collect()
          .map(r => (r.getMap[String, String](0).toMap, r.getMap[String, String](1).toMap))
        okRows.map(_._2).zip(got).zipWithIndex.foreach {
          case (((expFields, expRaw), (gotFields, gotRaw)), i) =>
            val expF = expFields.filter(_._2 != null)
            assert(gotFields == expF,
              s"fields diverged on row ${okRows(i)._1}")
            // rawtext: compiler stores raw verbatim incl. nulls; interpreter too
            assert(gotRaw.filter(_._2 != null) == expRaw.filter(_._2 != null),
              s"rawtext diverged on row ${okRows(i)._1}")
        }
      }
    }
  }
}
