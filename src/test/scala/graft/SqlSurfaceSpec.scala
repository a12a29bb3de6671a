package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Clusters, NearDup}
import graft.similarity.Similarity
import graft.sources.Tables
import graft.text.Curation

/** The operator library driven ENTIRELY from `spark.sql` strings —
  * the reference's audience (notebook SQL users) never leaves SQL.
  * Each table function's SQL result must hash-match the Scala
  * operator it wraps. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def viewDocs(): Unit =
    Tables.documents(spark, sf).createOrReplaceTempView("sql_docs")

  test("graft_minhash_pairs TVF equals NearDup.minHashPairs") {
    viewDocs()
    val viaSql = spark.sql(
      "SELECT * FROM graft_minhash_pairs('sql_docs', 'doc_id', 'text', 3, 0.5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaScala = NearDup.minHashPairs(
      Tables.documents(spark, sf), "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaSql === viaScala)
    assert(viaSql.nonEmpty)
    NearDup.unpersistAll()
  }

  test("graft_dedup TVF runs the full pipeline from SQL") {
    viewDocs()
    val viaSql = spark.sql("SELECT * FROM graft_dedup('sql_docs', 'doc_id', 'text', 6)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf)
    val edges = NearDup.simHashPairs(docs, "doc_id", "text", maxDist = 6)
      .select("id_a", "id_b")
    val viaScala = Clusters.dedupPipeline(docs.select("doc_id"), edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql === viaScala)
    NearDup.unpersistAll()
  }

  test("graft_ann_topk TVF equals Similarity.lshTopK") {
    val emb = Tables.embeddings(spark, sf)
    emb.createOrReplaceTempView("sql_emb")
    spark.sql("CREATE OR REPLACE TEMP VIEW sql_q AS " +
      "SELECT * FROM sql_emb WHERE vec_id < 20")
    val viaSql = spark.sql("SELECT * FROM graft_ann_topk('sql_emb', 'sql_q', 5)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaScala = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaSql === viaScala)
    assert(viaSql.nonEmpty)
  }

  test("graft_curate TVF runs the curation pipeline from SQL") {
    viewDocs()
    spark.sql("CREATE OR REPLACE TEMP VIEW sql_hold AS " +
      "SELECT * FROM sql_docs WHERE doc_id % 97 = 0")
    val viaSql = spark.sql("SELECT * FROM graft_curate('sql_docs', 'sql_hold')")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val docs = Tables.documents(spark, sf)
    val viaScala = Curation.curate(docs, docs.filter(col("doc_id") % 97 === 0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaSql === viaScala)
    assert(viaSql.nonEmpty)
    // SQL composes OVER the TVF — aggregation on the result relation
    val counts = spark.sql(
      """SELECT split, count(*) AS n FROM graft_curate('sql_docs', 'sql_hold')
        |GROUP BY split""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts.values.sum === viaScala.size)
  }

  test("graft_delta / graft_iceberg TVFs read interop tables from SQL") {
    import java.nio.file.Files
    val dOut = Files.createTempDirectory("graft-sql-delta").toString + "/d"
    graft.sources.DeltaLog.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dOut)
    graft.sources.DeltaLog.write(spark,
      Seq((9L, "z")).toDF("k", "v"), dOut, overwrite = true)
    val iOut = Files.createTempDirectory("graft-sql-ice").toString + "/i"
    graft.sources.IcebergTable.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), iOut)
    graft.sources.IcebergTable.write(spark,
      Seq((9L, "z")).toDF("k", "v"), iOut, overwrite = true)
    assert(spark.sql(s"SELECT k, v FROM graft_delta('$dOut') ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    assert(spark.sql(s"SELECT k, v FROM graft_delta('$dOut', 0) ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(spark.sql(s"SELECT k, v FROM graft_iceberg('$iOut') ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    assert(spark.sql(s"SELECT k, v FROM graft_iceberg('$iOut', 1) ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // SQL composes over the TVF: filters/aggregates on the relation
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_iceberg('$iOut', 1) WHERE k > 1")
      .as[Long].head() === 1L)
  }

  test("graft_fuzzy_pairs / CDC TVFs expose the round-8 operators in SQL") {
    import java.nio.file.Files
    // fuzzy pairs: SQL result equals the Scala operator
    Seq((1L, "alphabet"), (2L, "alphabt"), (3L, "zzz"))
      .toDF("id", "s").createOrReplaceTempView("sql_fuzzy")
    val viaSql = spark.sql(
      "SELECT * FROM graft_fuzzy_pairs('sql_fuzzy', 'id', 's', 1) ORDER BY id_a, id_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaSql === Seq((1L, 2L, 1L)))
    // delta CDC feed from SQL
    val d = Files.createTempDirectory("graft-sql-dcdc").toString + "/d"
    graft.sources.DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), d)
    graft.sources.DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), d)
    assert(spark.sql(
      s"SELECT k, _change_type FROM graft_delta_changes('$d', 0, 1)")
      .as[(Long, String)].collect().toSeq === Seq((2L, "insert")))
    // iceberg CDC feed from SQL
    val i = Files.createTempDirectory("graft-sql-icdc").toString + "/i"
    val s1 = graft.sources.IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), i)
    val s2 = graft.sources.IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), i)
    assert(spark.sql(
      s"SELECT k, _change_type FROM graft_iceberg_changes('$i', $s1, $s2)")
      .as[(Long, String)].collect().toSeq === Seq((2L, "insert")))
  }

  test("TVF misuse fails at analysis with a named parameter error") {
    viewDocs()
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_minhash_pairs('sql_docs')").collect()
    }
    assert(e.getMessage.contains("idCol"), e.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_ann_topk('sql_emb', 'sql_q', 'five')").collect()
    }
    assert(e2.getMessage.contains("integer literal"), e2.getMessage)
  }
}
