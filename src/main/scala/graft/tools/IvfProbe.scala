package graft.tools

import graft._
import org.apache.spark.sql.functions._

/** Measures d16's documented argmin mitigation (SCALE.md third decade /
  * Dedup.scala:1299): when per-label centroid count k tracks block size
  * (k = bn/64), the exact assignment kernel's work is n·k·dim =
  * O(n²·dim/64) per label — the term that binds at the sf100 corpus
  * (2M vectors, k≈3.1k). The two-level [[graft.functions.IvfIndex]]
  * visits √k coarse cells plus one (nprobe=1) or two (nprobe=2) member
  * lists: ~2·n·√k·dim work, at an approximation cost this probe measures
  * as CELL AGREEMENT vs the exact kernel — d16's downstream pair pass is
  * a pure function of the cell frame, so agreement bounds the output
  * drift directly.
  *
  *   sbt "runMain graft.tools.IvfProbe target/sf100"
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.get("ivf-probe")

    val t0 = System.nanoTime()
    val bc = operators.Dedup.centroidTableBc(spark, d)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val table = bc.value
    val ks = table.labels.map(l => table.selfDots(l).length)
    println(f"[ivf] corpus $d: ${table.labels.size} labels, " +
      f"k=${ks.min}-${ks.max} centroids/label, dim=${table.dim}; " +
      f"table build+collect $buildSec%.1f s")

    val t1 = System.nanoTime()
    val ivfBc = spark.sparkContext.broadcast(
      graft.functions.IvfIndex.build(table))
    println(f"[ivf] index build (driver) ${(System.nanoTime() - t1) / 1e9}%.2f s")

    // embeddings materialized once so every timed pass reads the same
    // cached frame — the passes time the KERNEL, not the scan
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .localCheckpoint(false)
    val n = e.count()

    def exact = graft.functions.ArrayMath.nearestCellBc(
      spark, col("label"), col("embedding"), bc)
    def ivf(np: Int) = graft.functions.ArrayMath.nearestCellIvfBc(
      spark, col("label"), col("embedding"), ivfBc, np)

    def pass(tag: String, c: org.apache.spark.sql.Column): Long = {
      // sum(cell) forces the kernel for every row and doubles as a
      // cross-variant checksum when agreement is 1.0
      val t = System.nanoTime()
      val s = e.agg(sum(c.cast("long"))).collect()(0).getLong(0)
      println(f"[ivf] $tag%-14s wall=${(System.nanoTime() - t) / 1e9}%7.2f s " +
        f"sum=$s%d over $n%d rows")
      s
    }
    val nprobes = Seq(1, 2, 4, 8, 16)
    // warm (scan + codegen) once with the cheap kernel, then timed passes
    pass("warm(ivf1)", ivf(1))
    nprobes.foreach(np => pass(s"ivf nprobe=$np", ivf(np)))
    pass("exact", exact)
    pass("exact(rep)", exact)

    val agCols = nprobes.map(np =>
      sum(when(exact === ivf(np), 1L).otherwise(0L))) :+ count(lit(1))
    val ag = e.agg(agCols.head, agCols.tail: _*).collect()(0)
    println("[ivf] cell agreement vs exact: " + nprobes.zipWithIndex.map {
      case (np, i) =>
        f"np=$np ${ag.getLong(i).toDouble / ag.getLong(nprobes.size)}%.4f"
    }.mkString(", "))

    // ---- pair-level effect: cell IDENTITY is irrelevant to d16's output
    // (cells only gate which pairs are compared) — what matters is whether
    // near-dup pairs still co-locate. Same pair pass as cappedCosinePairs,
    // parameterized by the cell column; recall split tight (cos ≥ 0.5) vs
    // loose (0.35-0.5), the RecallProbe bands.
    def dotC(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.functions.ArrayMath.dot(spark, x, y)
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    def pairsFrom(cellCol: org.apache.spark.sql.Column) = {
      val cf = e.withColumn("cell", cellCol)
        .select(col("vec_id"), col("label"), col("cell"), col("embedding"),
          sqrt(dotC(col("embedding"), col("embedding"))).as("nrm"))
      val a = cf.select(col("vec_id").as("id_a"), col("label"), col("cell"),
          col("embedding").as("v_a"), col("nrm").as("nrm_a"))
        .repartition(parts, col("label"), col("cell"))
      val b = cf.select(col("vec_id").as("id_b"), col("label"), col("cell"),
        col("embedding").as("v_b"), col("nrm").as("nrm_b"))
      a.join(b, Seq("label", "cell"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos",
          dotC(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.35)
        .select(col("id_a"), col("id_b"), col("cos"))
    }
    val pe = pairsFrom(exact).localCheckpoint(false)
    def pairReport(tag: String,
        cellCol: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
      val t = System.nanoTime()
      val pv = pairsFrom(cellCol).localCheckpoint(false)
      val r = pe.join(pv.select(col("id_a"), col("id_b"), lit(1).as("hit")),
          Seq("id_a", "id_b"), "left")
        .groupBy((col("cos") >= 0.5).as("tight"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("hit"), lit(0))).as("kept"))
        .collect().map(x => x.getBoolean(0) -> (x.getLong(1), x.getLong(2)))
        .toMap
      val nv = pv.count()
      val sec = (System.nanoTime() - t) / 1e9
      val (tn, tk) = r.getOrElse(true, (0L, 0L))
      val (ln, lk) = r.getOrElse(false, (0L, 0L))
      // every pair in pv is exact-verified (cos within cell), so nv is a
      // TRUTH-pair yield, not an approximation count — overlap vs the
      // exact-cell pair set shows WHICH truth each variant samples
      println(f"[ivf] $tag%-14s pairs=$nv%d vs exact ${tn + ln}%d: overlap " +
        f"tight(cos>=0.5) ${tk.toDouble / math.max(tn, 1)}%.4f ($tk/$tn), " +
        f"loose ${lk.toDouble / math.max(ln, 1)}%.4f ($lk/$ln) " +
        f"[$sec%.1f s]")
      pv
    }
    val pvs = nprobes.map(np => np -> pairReport(s"pairs ivf$np", ivf(np))).toMap

    // ---- merge-level effect: d16's OUTPUT is the drop set (merged into an
    // earlier component root), a function of the pair GRAPH, not of which
    // specific pairs realize it — dup cliques stay connected under any
    // sampler that keeps a spanning tree per clique.
    def drops(pairs: org.apache.spark.sql.DataFrame) =
      operators.Dedup.connectedComponents(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .filter(col("label") =!= col("id")).select(col("id"))
    val de = drops(pe).localCheckpoint(false)
    val ne = de.count()
    def mergeReport(tag: String, pv: org.apache.spark.sql.DataFrame): Unit = {
      val t = System.nanoTime()
      val dv = drops(pv).localCheckpoint(false)
      val n = dv.count()
      val inter = dv.join(de, "id").count()
      println(f"[ivf] $tag%-14s drops=$n%d vs exact $ne%d: recall " +
        f"${inter.toDouble / math.max(ne, 1)}%.4f ($inter/$ne) " +
        f"[${(System.nanoTime() - t) / 1e9}%.1f s]")
    }
    mergeReport("merge ivf16", pvs(16))

    // ---- the OTHER documented mitigation: cap k. The centroid rank is a
    // smallest-md5 prefix order, so the capped table is a PREFIX of the
    // uncapped one — assignment becomes linear (n·cap·dim) while cells
    // coarsen (occupancy n/cap), shifting cost into the distributed,
    // codegen pair pass. Recall direction is UP (coarser cells co-locate
    // more), the opposite trade from IVF.
    Seq(1024).foreach { cap =>
      if (ks.max > cap) {
        // the EXACT prefix-truncation the SPARK_GRAFT_D16_CAPK flag applies
        // (Dedup.capCentroidTable; DedupSpec pins prefix identity), so this
        // probe's recall numbers ARE the flag path's
        val capped = spark.sparkContext.broadcast(
          graft.operators.Dedup.capCentroidTable(table, cap))
        def capCol = graft.functions.ArrayMath.nearestCellBc(
          spark, col("label"), col("embedding"), capped)
        pass(s"assign cap=$cap", capCol)
        val pvCap = pairReport(s"pairs cap=$cap", capCol)
        mergeReport(s"merge cap=$cap", pvCap)
      }
    }
    spark.stop()
  }
}
