package graft.sim

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf())
  private lazy val index = Ivf.build(emb, nlist = 16)

  test("index is deterministic and covers all cells consulted") {
    val i2 = Ivf.build(emb, nlist = 16)
    assert(index.centroids == i2.centroids)
    val cells = emb.select(Ivf.cellId(col("embedding").cast("array<double>"), index))
      .as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 16))
    assert(cells.distinct.length > 4, "clustering collapsed to too few cells")
  }

  test("build survives corrupt vectors; fit equals the clean-corpus fit") {
    // array_to_vector THROWS on NaN/Inf — unguarded, one corrupt embedding
    // aborts the whole offline build. The finite-vector guard excludes
    // exactly the unindexable rows, so the planted build IS the clean build.
    val bad = Seq(
      (9001L, Seq(Double.NaN, 1.0, 0.0, 0.0) ++ Seq.fill(60)(0.0)),
      (9002L, Seq(Double.PositiveInfinity) ++ Seq.fill(63)(0.0)),
      (9003L, null.asInstanceOf[Seq[Double]]))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val planted = emb.select(col("vec_id"), col("embedding")).unionByName(bad)
    val idx = Ivf.build(planted, nlist = 16)
    assert(idx.centroids == index.centroids,
      "corrupt rows must not shift the centroid fit")
    assert(idx.centroids.forall(_.forall(x => !x.isNaN && !x.isInfinite)))
    // assignment of a NaN vector is deterministic (Java < never true on
    // NaN distances -> cell 0), and never crashes the kernel
    val cells = bad.filter(col("embedding").isNotNull)
      .select(Ivf.cellId(col("embedding").cast("array<double>"), idx))
      .as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 16))
  }

  test("cell-partitioned layout prunes the scan to probed cells") {
    val base = graft.TempDirs.fixtureDir("ivf") + "/corpus"
    Ivf.writeCellPartitioned(emb, index, base)
    // layout: one directory per cell
    val dirs = new java.io.File(base).listFiles().map(_.getName).filter(_.startsWith("cell="))
    assert(dirs.nonEmpty && dirs.length <= 16)
    val queries = emb.filter($"vec_id" < 5)
    val pruned = Ivf.topKPruned(spark, base, queries, index, k = 3, nprobe = 4)
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell"), s"probed cells not pushed as partition filters:\n$plan")
    // and the pruned path returns exactly what the join path returns
    val joined = Ivf.topK(emb, queries, index, k = 3, nprobe = 4)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    val got = pruned
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(got == joined)
  }

  test("IVF top-k: exact cosines, reasonable recall vs brute force") {
    val queries = emb.filter($"vec_id" < 20)
    val ivf = Ivf.topK(emb, queries, index, k = 3, nprobe = 4)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect()
    val bruteMap = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    // every IVF hit that brute force also ranked must carry the same cosine
    ivf.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(exact => assert(exact == c))
    }
    // recall@3 with nprobe=4/16 on clustered data should be well above chance
    val bruteSet = brute.map { case (q, n, _) => (q, n) }.toSet
    val recall = ivf.count { case (q, n, _) => bruteSet((q, n)) }.toDouble / bruteSet.size
    assert(recall >= 0.5, s"recall@3 = $recall")
  }
}
