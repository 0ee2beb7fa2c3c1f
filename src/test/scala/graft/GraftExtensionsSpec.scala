package graft

import org.apache.spark.sql.functions.col

class GraftExtensionsSpec extends SparkSpec {

  test("custom expressions are callable from SQL after registration") {
    val row = spark.sql(
      """SELECT graft_tokens('The quick FOX') AS t,
                graft_word_shingles('a b c d', 3) AS s,
                graft_minhash_signature(graft_word_shingles('a b c d', 3), 4) AS m,
                graft_simhash(graft_tokens('the quick fox')) AS sh,
                graft_winnow_fingerprint('the quick brown fox jumps', 8, 4) AS fp""")
      .collect().head
    assert(row.getSeq[String](0) == Seq("the", "quick", "fox"))
    assert(row.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(row.getSeq[Long](2).length == 4)
    // SQL simhash == expression-API simhash on the same tokens
    val viaApi = spark.sql("SELECT graft_tokens('the quick fox') AS t")
      .select(graft.functions.TextExpressions.simhash64(col("t")))
      .collect().head.getLong(0)
    assert(row.getLong(3) == viaApi)
    assert(row.getSeq[Long](4).nonEmpty)
  }

  test("SQL function output matches the Column API on real data") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    docs.createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_word_shingles(text, 3) AS sh FROM docs_ext")
    val viaApi = docs.select(col("doc_id"),
      graft.functions.TextExpressions.word_shingles(col("text"), 3).as("sh"))
    assert(viaSql.exceptAll(viaApi).count() == 0)
    assert(viaApi.exceptAll(viaSql).count() == 0)
  }

  test("non-literal shingle size is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles('a b c', 1 + 2)").collect()
    }
    assert(e.getMessage.contains("integer literal") || e.getMessage.contains("graft_word_shingles"))
  }
}
