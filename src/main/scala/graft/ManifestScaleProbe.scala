package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{functions => F, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{GraftFileIndex, SnapshotTable}

/** Measurement probe for the DRIVER-RESIDENT MANIFEST CEILING — the
  * open scale question on the snapshot-table design: the manifest
  * (entry lines, parsed stat maps, optional per-file bloom bitsets)
  * lives on the driver, and `GraftFileIndex.listFiles` is O(#files)
  * driver-side expression evaluations per query. This probe
  * synthesizes manifests of 10k / 100k / 1M entries (realistic item
  * mix: partition value, two long ranges, one string byte-bound, the
  * `len=` file meta, and optionally one 2^16-bit bloom), parses them
  * through the REAL entry parsers, and reports
  *   - retained driver heap for the parsed entry tuples, and
  *   - `listFiles` latency per query (pushed range filter, median of
  *     5 after warmup).
  * Numbers land in NOTES_ROUND.md; the successor design past the
  * ceiling is an Iceberg-style manifest tree (split the file list
  * into manifest files tracked by a manifest list, prune whole
  * manifests by their aggregated ranges before touching entries).
  */
object ManifestScaleProbe {

  private def heapUsed(): Long = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", LongType),
      StructField("tag", StringType), StructField("part", StringType)))
    val partSchema = StructType(Seq(StructField("part", StringType)))
    // one shared 8 KB bloom payload rendered once; DECODED per entry
    // (each entry retains its own Array[Byte], as in real parsing)
    val bloomBytes = {
      val a = new Array[Byte](8192); new java.util.Random(7).nextBytes(a)
      java.util.Base64.getEncoder.withoutPadding.encodeToString(a)
    }
    def line(i: Long, bloom: Boolean): String = {
      val items = Seq(
        s"id=${i * 1000}:${i * 1000 + 999}",
        s"ts=${1700000000L + i}:${1700000600L + i}",
        s"tag=s!doc${i}aa!doc${i}zz",
        s"len=f!134217728!1700000000000") ++
        (if (bloom) Seq(s"id=b!65536!6!$bloomBytes") else Nil)
      s"files/part=p${i % 5}/f$i.parquet\t" + items.mkString(";")
    }
    // `seg` arg skips the flat-format table (local iteration on the
    // segmented-path measurements only)
    val segOnly = args.headOption.contains("seg")
    println(f"${"entries"}%9s ${"bloom"}%5s ${"parseMs"}%8s " +
      f"${"heapMB"}%8s ${"listFilesMs"}%12s ${"keptFiles"}%9s")
    for (n <- Seq(10000, 100000, 1000000) if !segOnly;
         bloom <- Seq(false, true)) {
      val lines = (0L until n.toLong).map(line(_, bloom))
      val h0 = heapUsed()
      val t0 = System.nanoTime()
      val entries = lines.map { e =>
        val rel = SnapshotTable.entryPath(e)
        val (len, mtime) = SnapshotTable.entryFileMeta(e).get
        (new FileStatus(len, false, 1, 134217728L, mtime,
          new Path("/probe", rel)),
          SnapshotTable.entryPartitionValues(rel),
          SnapshotTable.entryStats(e),
          SnapshotTable.entryStringStats(e),
          SnapshotTable.entryBloomStats(e),
          SnapshotTable.entryNulls(e),
          None)
      }.toVector
      val parseMs = (System.nanoTime() - t0) / 1e6
      val h1 = heapUsed()
      val index = new GraftFileIndex("/probe", partSchema,
        entries.map(GraftFileIndex.eager))
      // pushed range filter: selects ~0.1% of entries by cached range
      val pred = SnapshotTable.resolvedPredicate(spark, schema,
        F.col("id") >= (n.toLong * 1000 / 2) &&
          F.col("id") < (n.toLong * 1000 / 2 + n.toLong))
      var kept = 0
      val times = (0 until 7).map { _ =>
        val s = System.nanoTime()
        kept = index.listFiles(Nil, Seq(pred)).map(_.files.size).sum
        (System.nanoTime() - s) / 1e6
      }.drop(2).sorted
      println(f"$n%9d $bloom%5s $parseMs%8.0f " +
        f"${(h1 - h0) / 1e6}%8.1f ${times(times.size / 2)}%12.1f $kept%9d")
    }
    // ---- segmented-manifest write amplification -----------------
    // The same 1M-entry manifest through segmentedBody: initial
    // segmentation cost (one-time), then ONE-entry append commits —
    // bytes written and wall time vs the flat format's full rewrite.
    println()
    println("segmented-manifest write path (1M entries, stats, no bloom):")
    locally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val dir = java.nio.file.Files
        .createTempDirectory("manifest_probe").toString
      fs.mkdirs(new Path(dir, "_graft_log"))
      val n = 1000000
      val entries = (0L until n.toLong).map(line(_, bloom = false))
      val flatBytes = entries.map(_.length + 1L).sum
      val t0 = System.nanoTime()
      val body0 = SnapshotTable.segmentedBody(spark, fs, dir, None, entries)
      val initMs = (System.nanoTime() - t0) / 1e6
      // fake-commit v0 (with the end-of-transaction marker real
      // commits write) so the append can reuse its segments
      val m0 = new Path(dir, "_graft_log/v00000000.manifest")
      val out0 = fs.create(m0, false)
      out0.write((body0.mkString("\n") + "\n#eot=1\n").getBytes("UTF-8"))
      out0.close()
      val segBytes = fs.listStatus(new Path(dir, "_graft_log")).toSeq
        .map(_.getLen).sum
      val v0 = Some(SnapshotTable.snapshot(spark, dir, Some(0)))
      // r10 shape (reuse check hashes every entry, O(#files)) kept
      // for comparison against the delta path below
      val t1 = System.nanoTime()
      val body1 = SnapshotTable.segmentedBody(spark, fs, dir, v0,
        entries :+ line(n.toLong + 7, bloom = false))
      val appendMs = (System.nanoTime() - t1) / 1e6
      val newSegs = body1.filterNot(body0.toSet.contains)
      val appendBytes = body1.map(_.length + 1L).sum
      println(f"  flat manifest rewrite per commit: ${flatBytes / 1e6}%7.1f MB")
      println(f"  initial segmentation: ${initMs}%7.0f ms, " +
        f"${segBytes / 1e6}%7.1f MB total, ${body0.size}%d segments")
      println(f"  1-entry append (r10 per-entry reuse scan): ${appendMs}%7.0f ms, " +
        f"list ${appendBytes / 1e3}%6.1f KB, " +
        f"${newSegs.size}%d new segment(s), ${body0.size - (body1.size - newSegs.size)}%d rewritten")
      // the REAL append path (r11): previous refs pass through
      // verbatim, staged entries join the inline tail — O(#segments)
      val t2 = System.nanoTime()
      val body2 = SnapshotTable.appendBody(spark, fs, dir, v0,
        Seq(line(n.toLong + 8, bloom = false)))
      val appendDeltaMs = (System.nanoTime() - t2) / 1e6
      val inheritedRefs = body2.count(_.startsWith("@seg="))
      println(f"  1-entry append (delta path): ${appendDeltaMs}%7.1f ms, " +
        f"list ${body2.map(_.length + 1L).sum / 1e3}%6.1f KB, " +
        f"$inheritedRefs%d refs inherited, " +
        f"${body2.size - inheritedRefs}%d inline")
      // ---- lazy FileIndex over the segmented manifest ------------
      // planning latency when pushed filters refute most segments:
      // loaded-segment count is the proof entries never parsed
      def lazyIndex(): GraftFileIndex = {
        val segs = body0.map { l =>
          val agg = l.stripPrefix("@seg=")
          new GraftFileIndex.Segment(
            SnapshotTable.refPartValues(l),
            SnapshotTable.entryStats(agg),
            SnapshotTable.entryStringStats(agg),
            Map.empty, SnapshotTable.refCount(l),
            SnapshotTable.refBytes(l),
            () => SnapshotTable.segInfoCached(
                dir + "/" + SnapshotTable.refRel(l))(
              SnapshotTable.segEntries(fs, dir,
                  SnapshotTable.refRel(l)).map { e =>
                val rel = SnapshotTable.entryPath(e)
                val (len, mt) = SnapshotTable.entryFileMeta(e).get
                val (num, str, bl, nu) = SnapshotTable.parseEntryStats(e)
                (new FileStatus(len, false, 1, 134217728L, mt,
                  new Path(dir, rel)),
                  SnapshotTable.entryPartitionValues(rel),
                  num, str, bl, nu, None)
              }))
        }
        new GraftFileIndex(dir, partSchema, segs)
      }
      val rangePred = SnapshotTable.resolvedPredicate(spark, schema,
        F.col("id") >= (n.toLong * 1000 / 2) &&
          F.col("id") < (n.toLong * 1000 / 2 + n.toLong))
      val partPred = SnapshotTable.resolvedPredicate(spark,
        StructType(Seq(StructField("part", StringType))),
        F.col("part") === "p3")
      for ((label, pf, df0) <- Seq(
          ("0.1% id range", Nil, Seq(rangePred)),
          ("part=p3 partition", Seq(partPred), Seq[
            org.apache.spark.sql.catalyst.expressions.Expression]()))) {
        // cold: nothing parsed yet; warm: FRESH index (per-query
        // construction, as readCatalyst does) over the process cache
        for (phase <- Seq("cold", "warm")) {
          val idx = lazyIndex()
          val t = System.nanoTime()
          val files = idx.listFiles(pf, df0).map(_.files.size).sum
          val ms = (System.nanoTime() - t) / 1e6
          println(f"  lazy listFiles [$label%18s, $phase%4s]: " +
            f"${ms}%7.1f ms, $files%7d files kept, " +
            f"${idx.loadedSegmentCount}%5d of ${idx.segmentCount}%d " +
            "segments parsed")
        }
      }
      // ---- DISTRIBUTED planning: the same prunes as a Spark job ---
      // (the past-the-driver path for 10M+-file tables: driver keeps
      // segment-level refutation, surviving segments parse in tasks)
      for ((label, pr) <- Seq(("0.1% id range", rangePred),
          ("unprunable ts point", SnapshotTable.resolvedPredicate(
            spark, schema, F.col("ts") === 1700000300L)))) {
        for (phase <- Seq("cold", "warm")) {
          val t = System.nanoTime()
          val (kept, tot) = SnapshotTable.distributedPrunedEntries(
            spark, dir, body0, pr, None)
          val ms = (System.nanoTime() - t) / 1e6
          println(f"  distributed prune [$label%19s, $phase%4s]: " +
            f"${ms}%8.1f ms, ${kept.size}%7d of $tot%d files kept")
        }
      }
      // full-parse worst case: segment aggregates stripped (n= only),
      // so NO segment refutes and the job must parse all 1M entries —
      // the driver-path equivalent is the 'part=p3 cold' shape above
      locally {
        val bare = body0.map(l => l.split("\t")(0) + "\tn=512")
        for (phase <- Seq("cold", "warm")) {
          val t = System.nanoTime()
          val (kept, tot) = SnapshotTable.distributedPrunedEntries(
            spark, dir, bare, rangePred, None)
          val ms = (System.nanoTime() - t) / 1e6
          println(f"  distributed prune [  full 1M-entry parse, $phase%4s]: " +
            f"${ms}%8.1f ms, ${kept.size}%7d of $tot%d files kept")
        }
      }
      // ---- bloom SIDECARS: point lookup on a range-unprunable key --
      // uid carries no range stats, so every segment must consult its
      // bloom; the bitsets live in per-segment sidecar files (1 KB per
      // file per the 1M-file auto-size), load lazily through the
      // byte-bounded cache, and never ride the manifest parse — the
      // r10 inline design measured 9.5 GB heap / 339 s parse here.
      println()
      println("bloom sidecars (1M files, uid bloom, 2^13 bits auto-size):")
      locally {
        val bits = 8192
        val rnd = new java.util.Random(11)
        val uidSchema = StructType(schema.fields :+
          StructField("uid", LongType))
        // a pool of 64 pre-encoded sparse bitsets (~22% fill, like a
        // 300-key file at 6 hashes): pick per file — the load-time
        // cost (1M base64 DECODES into per-file arrays) is the
        // realistic one and is NOT pooled
        val pool = Array.fill(64) {
          val bs = new Array[Byte](bits / 8)
          (0 until 1800).foreach { _ =>
            val p = rnd.nextInt(bits); bs(p >> 3) =
              (bs(p >> 3) | (1 << (p & 7))).toByte
          }
          java.util.Base64.getEncoder.withoutPadding.encodeToString(bs)
        }
        val sideOf = body0.map { l =>
          val rel = SnapshotTable.refRel(l)
          val names = SnapshotTable.segEntries(fs, dir, rel)
            .map(e => SnapshotTable.entryPath(e).split("/").last)
          val bRel = rel.stripSuffix(".entries") + ".blooms"
          val content = names.map { nm =>
            nm + "\tuid=b!8192!6!" + pool(rnd.nextInt(pool.length))
          }.mkString("\n") + "\n"
          val o = fs.create(new Path(dir, bRel), false)
          o.write(content.getBytes("UTF-8")); o.close()
          rel -> bRel
        }.toMap
        def bloomIndex(): GraftFileIndex = {
          val segs = body0.map { l =>
            val agg = l.stripPrefix("@seg=")
            val rel = SnapshotTable.refRel(l)
            new GraftFileIndex.Segment(
              SnapshotTable.refPartValues(l),
              SnapshotTable.entryStats(agg),
              SnapshotTable.entryStringStats(agg),
              Map.empty, SnapshotTable.refCount(l),
              SnapshotTable.refBytes(l),
              () => SnapshotTable.segInfoCached(
                  dir + "/" + rel + "#noblooms")(
                SnapshotTable.segEntries(fs, dir, rel).map { e =>
                  val rel2 = SnapshotTable.entryPath(e)
                  val (len, mt) = SnapshotTable.entryFileMeta(e).get
                  val (num, str, _, nu) = SnapshotTable.parseEntryStats(e)
                  (new FileStatus(len, false, 1, 134217728L, mt,
                    new Path(dir, rel2)),
                    SnapshotTable.entryPartitionValues(rel2),
                    num, str,
                    Map.empty[String, (Int, Int, Array[Byte])], nu,
                    None)
                }),
              bloomLoader = () =>
                SnapshotTable.segBloomSidecar(fs, dir, sideOf(rel)))
          }
          new GraftFileIndex(dir, partSchema, segs)
        }
        val uidPred = SnapshotTable.resolvedPredicate(spark, uidSchema,
          F.col("uid") === 123456789L)
        for (phase <- Seq("cold", "warm")) {
          val h0 = heapUsed()
          val idx = bloomIndex()
          val t = System.nanoTime()
          val files = idx.listFiles(Nil, Seq(uidPred))
            .map(_.files.size).sum
          val ms = (System.nanoTime() - t) / 1e6
          val dh = (heapUsed() - h0) / 1e6
          println(f"  point lookup [$phase%4s]: ${ms}%8.1f ms, " +
            f"$files%7d files kept of 1000000, heap +${dh}%7.1f MB")
        }
        // cold is DISK-bound (reading ~1.3 GB of sidecars — an object
        // store parallelizes it; local page-cache state makes the
        // number noisy); warm is the in-memory planning cost.
      }
      // don't accumulate ~1.5 GB of synthetic metadata per run
      fs.delete(new Path(dir), true)
    }
    spark.stop()
  }
}
