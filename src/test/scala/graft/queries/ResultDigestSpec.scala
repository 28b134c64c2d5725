package graft.queries

import graft.SparkSpec

/** The offline correctness net: every registry query's result at sf0.01,
  * canonicalised by [[ResultDigests]] (sorted columns, values as strings,
  * sorted rows, md5), must equal the digest committed from a tree that
  * passed the DuckDB oracle gate 116/116. The Tier-1 suite runs no
  * DuckDB, so without this a wrong answer passes it. A digest changes
  * only with a declared change of a query's semantics; it is never
  * regenerated to quiet a failure. */
class ResultDigestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private val digestFile = "src/test/resources/graft/result_digests_sf0.01.tsv"
  private lazy val want = ResultDigests.load(digestFile)

  test("every registry query has a committed digest") {
    assert(QueryPack.registry.map(_.name).toSet == want.keySet)
  }

  for (q <- QueryPack.registry) test(s"digest: ${q.name}") {
    assume(new java.io.File(sf).isDirectory, s"$sf is absent")
    val (rows, md5) = ResultDigests.run(spark, q, sf)
    val (wantRows, wantMd5) = want(q.name)
    assert(rows == wantRows, s"${q.name}: $rows rows, committed $wantRows")
    assert(md5 == wantMd5, s"${q.name}: result digest moved ($rows rows)")
  }
}
