package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Specs for the r10 rows-kind operators (the sql-kind ones are gated
  * by the DuckDB hash oracle). */
class R10OpsSpec extends SparkSuite {

  test("ann_recall_report: one row per rung, recall floors hold, hits <= truth") {
    val rows = Similarity.recallReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq("ivf", "ivf_pq", "lsh", "sq8"))
    rows.foreach { case (m, hits, truth, pm) =>
      assert(hits >= 0 && hits <= truth, s"$m hits out of range")
      assert(pm === hits * 1000 / truth, s"$m recall_pm inconsistent")
    }
    val byMethod = rows.map(r => r._1 -> r._4).toMap
    // the documented floors of the individual recall specs
    assert(byMethod("lsh") >= 700, s"lsh recall ${byMethod("lsh")}")
    assert(byMethod("ivf_pq") >= 400, s"ivf_pq recall ${byMethod("ivf_pq")}")
    assert(byMethod("sq8") >= 800, s"sq8 recall ${byMethod("sq8")}")
  }

  test("ann_recall_report: an empty truth set gives a NULL recall_pm, not a divide-by-zero") {
    // one vector: no query has a neighbor, so the exact top-k is empty
    val dir = java.nio.file.Files.createTempDirectory("graft-one-vec").toString
    try {
      spark.createDataFrame(java.util.Arrays.asList(
          Row(0L, (0 until 64).map(i => (i + 1).toFloat), 3)),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType))))
        .write.parquet(s"$dir/embeddings.parquet")
      val rows = Similarity.recallReport(spark, dir).collect()
      assert(rows.map(_.getString(0)).toSeq === Seq("ivf", "ivf_pq", "lsh", "sq8"))
      rows.foreach { r =>
        assert(r.getLong(1) === 0L && r.getLong(2) === 0L, s"${r.getString(0)}: $r")
        assert(r.isNullAt(3), s"${r.getString(0)} recall_pm must be NULL: $r")
      }
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("dedup_incremental_minhash: matches point into the existing partition; near-dups exist; deterministic") {
    val out = Dedup.incrementalMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one verdict per batch doc, batch = doc_id % 5 == 4
    assert(out.nonEmpty && out.forall(_._1 % 5 == 4))
    out.foreach { case (id, dup, m) =>
      if (dup == 1L) {
        assert(m >= 0 && m % 5 != 4, s"doc $id matched non-existing doc $m")
      } else assert(m === -1L, s"doc $id: non-dup must carry sentinel")
    }
    // exact duplicates across the split MUST be caught (identical text
    // -> identical signature -> every band collides); the exact-hash
    // incremental's dups are a subset of the banded near-dups
    val exactDups = Dedup.incremental(spark, sf).collect()
      .filter(_.getLong(1) == 1L).map(_.getLong(0)).toSet
    val nearDups = out.filter(_._2 == 1L).map(_._1).toSet
    assert(exactDups.subsetOf(nearDups),
      s"banded admission missed exact dups: ${exactDups -- nearDups}")
    // replay-stable
    val again = Dedup.incrementalMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("persisted band table: admission against the artifact == inline, bit for bit") {
    val name = "bands_spec_" + math.abs(this.hashCode())
    Dedup.persistBandTable(spark, sf, name)
    // the artifact's read-back schema, which tables persisted by
    // earlier builds also carry
    assert(spark.table(s"${name}_sigs").schema === StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType, containsNull = true)))))
    assert(spark.table(s"${name}_bands").schema === StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("bandhash", LongType))))
    val persisted = Dedup.incrementalMinhashPersisted(spark, sf, name)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val inline = Dedup.incrementalMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // signatures are deterministic per doc, so the persist boundary
    // changes NOTHING about the verdicts
    assert(persisted.toSeq === inline.toSeq)
    assert(persisted.exists(_._2 == 1L), "fixture has near-dups to admit")
  }
}
