package graft

import graft.operators.SpectraCluster
import org.apache.spark.sql.functions._

/** Spectra-clustering scale probe: synthesizes N deterministic spectra
  * (hash-derived peaks, no RNG) with planted near-duplicate runs and
  * times [[SpectraCluster.clusterSpectra]] end to end — binning kernel,
  * candidate equi-join, cosine gate, connected components. Evidence the
  * inverted-index candidate plan (never all-pairs) holds when the corpus
  * stops being toy-sized; the clustering counterpart of [[AnnBench]].
  *
  * Every run of 5 consecutive ids shares a base spectrum (the planted
  * cluster): members keep the base's precursor slot with +0.004*k m/z
  * jitter (inside the 0.02 tolerance) and get k small intensity bumps, so
  * expected clusters are ~n/5 in size-5 components plus the unmatched
  * tail. Reported: wall seconds, edge count, cluster count, and the
  * size histogram of the largest clusters.
  *
  *   SPARK_GRAFT_NSPECTRA=500000 sbt "runMain graft.ClusterBench"
  */
object ClusterBench {

  def main(args: Array[String]): Unit = {
    val nSpectra = sys.env.getOrElse("SPARK_GRAFT_NSPECTRA", "500000").toLong
    val nPeaks = 60
    val spark = GraftSession.harness("graft-clusterbench")
    spark.sparkContext.setLogLevel("WARN")

    // Deterministic spectra: groups of 5 consecutive ids share the base
    // id 5*(id/5); intensities are hash-derived from the BASE id (so
    // group members agree bin-for-bin), with k tiny bumps per member.
    val g = col("id") - pmod(col("id"), lit(5L)) // base id of the group
    val k = pmod(col("id"), lit(5L))             // member index within it
    def inten(i: Int) =
      pmod(xxhash64(g * lit(nPeaks) + lit(i)), lit(900L)).cast("double") + lit(100.0) +
        when(pmod(lit(i.toLong), lit(5L)) === k, lit(3.0)).otherwise(lit(0.0))
    val spectra = spark.range(nSpectra).select(
      col("id").as("specId"),
      (lit(2) + pmod(g, lit(3L))).cast("int").as("precursorCharge"),
      // ~25k distinct precursor slots, 0.04 apart (2x the 0.02 tol), so
      // same-group members land in one slot and different groups rarely
      // collide; member jitter stays inside the tolerance.
      (lit(400.0) + pmod(xxhash64(g), lit(25000L)).cast("double") * lit(0.04) +
        k.cast("double") * lit(0.004)).as("precursorMz"),
      transform(sequence(lit(0), lit(nPeaks - 1)),
        i => lit(100.0) + i.cast("double") * lit(2.0)).as("masses"),
      array((0 until nPeaks).map(inten): _*).as("intensities"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = spectra.count()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val cfg = SpectraCluster.Config(
      binWidth = 1.0, topPeaks = 20, candidateBins = 6,
      precursorTol = 0.02, minCosine = 0.95)

    val (edgeCount, tEdges) = time {
      SpectraCluster.similarityEdges(spectra, cfg).count()
    }
    val (stats, tCluster) = time {
      val assigned = SpectraCluster.clusterSpectra(spectra, cfg)
      val sizes = assigned.groupBy(col("clusterId")).agg(count(lit(1)).as("sz"))
      sizes.groupBy(col("sz")).agg(count(lit(1)).as("clusters"))
        .orderBy(col("sz").desc).limit(8).collect()
        .map(r => s"size=${r.getLong(0)}x${r.getLong(1)}").mkString(", ")
    }
    println(f"""{"metric":"cluster_bench","n_spectra":$n,"edges":$edgeCount,""" +
      f""""edges_sec":$tEdges%.1f,"cluster_sec":$tCluster%.1f,""" +
      f""""top_sizes":"$stats"}""")
    spark.stop()
  }
}
