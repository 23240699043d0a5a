package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these query names (local iteration;
    // the driver always passes exactly two args → full sweep). Unknown
    // names fail loudly — a typo would otherwise write nothing and exit 0,
    // looking exactly like a passing gate.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Both serving modes are attested in ONE artifact: the run pins the
    // shared token projection and writes each gate's PINNED-mode result
    // for the DuckDB compare; for every gate whose plan actually consults
    // the projection (the bench's touched probe) it ALSO executes the
    // raw-recompute path — the mode the bench's steady-state timings run
    // — and bit-compares the two row multisets in-process. On parity the
    // oracle hash vouches for both modes at once; on a mismatch the
    // gate's parquet is withheld, so the oracle compare fails loudly
    // instead of hashing one mode while the other silently diverged.
    // Per-gate outcomes land in `outDir/raw_parity.json`.
    try graft.ops.SharedCorpus.pin(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] SharedCorpus.pin failed: ${e.getMessage}")
    }
    val parity = scala.collection.mutable.SortedMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        graft.ops.SharedCorpus.resetTouched()
        val primary = graft.ops.SharedCorpus.withMode(true)(fn(spark, sfDir))
        if (graft.ops.SharedCorpus.wasTouched) {
          // sorted-row-multiset compare, same tolerance as the driver's
          // hash (which sorts rows before hashing): gate ordering is part
          // of each oracle's ORDER BY, not of the mode-parity contract
          val a = primary.collect().map(_.toString).sorted.toSeq
          val b = graft.ops.SharedCorpus.withMode(false)(
            fn(spark, sfDir).collect().map(_.toString).sorted.toSeq)
          if (a != b) {
            parity.put(name, "MISMATCH")
            System.err.println(s"[verify] $name: raw-mode result diverges " +
              s"from pinned mode (${a.size} vs ${b.size} rows) - gate withheld")
            throw new IllegalStateException("raw/pinned mode divergence")
          }
          parity.put(name, "ok")
        }
        primary.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (parity.nonEmpty) {
      val pj = parity.map { case (k, v) => s"\"$k\": \"$v\"" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/raw_parity.json"), pj)
      System.err.println(s"[verify] raw-mode parity: " +
        s"${parity.values.count(_ == "ok")}/${parity.size} gates ok")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Stamp-audit sweep invariant: after the sweep, every stored family
    // the catalog holds gets its manifest stamp recomputed from the
    // STORED ids its manifest names (one id-column scan each) plus the
    // fixed-rows-per-id cross-check — and a failing family WITHHOLDS its
    // gates' parquet ([[SparkEntry.auditGates]]; every gate when no entry
    // names the family), so the oracle compare fails loudly instead of
    // hashing results served off a silently corrupted index (the same
    // enforcement shape as raw_parity). One row per audited family lands
    // in `audit_stamps.json`.
    val audits = scala.collection.mutable.SortedMap.empty[String, String]
    graft.sources.Formats.auditableFamilies(spark).foreach { fam =>
      val (ok, entry) =
        try {
          val r = graft.sources.Formats.stampAudit(spark, fam).head()
          val ok = r.getBoolean(5) && r.getBoolean(6)
          (ok, s"""{"ok": $ok, "manifest_n": ${r.getLong(0)}, """ +
            s""""stored_n": ${r.getLong(2)}, "stored_rows": ${r.getLong(4)}, """ +
            s""""disjoint_ok": ${r.getBoolean(5)}, "rows_ok": ${r.getBoolean(6)}}""")
        } catch { case e: Throwable =>
          (false, s"""{"ok": false, "err": ${q(Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
        }
      audits.put(fam, entry)
      if (!ok) {
        val gates = SparkEntry.auditGates.collect { case (t, gs) if fam.startsWith(t) => gs }.flatten
        val withheld = SparkEntry.queries.keys.filter(g => gates.isEmpty || gates.exists(g.startsWith))
        System.err.println(s"[verify] STAMP AUDIT FAILED for '$fam' $entry - withholding " +
          (if (gates.isEmpty) "every gate" else withheld.toSeq.sorted.mkString("gates ", ", ", "")))
        withheld.foreach(g =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$g")))
      }
    }
    if (audits.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/audit_stamps.json"),
        audits.map { case (k, v) => s"\"$k\": $v" }.mkString("{", ",", "}"))
      System.err.println(s"[verify] stamp audit: " +
        s"${audits.values.count(_.contains("\"ok\": true"))}/${audits.size} families ok")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.ops.SharedCorpus.unpinAll(spark)
    spark.stop()
  }
}
