package graft

import java.nio.file.{Files, Paths}

/** Writes BENCH_KEYS.md: the bench metric-line key for every query,
  * generated from Bench's own abbreviation logic so the table can
  * never drift from what the bench actually emits. Usage:
  * `runMain graft.KeyMap` (no Spark session needed — the query maps
  * are plain function values).
  */
object KeyMap {
  def main(args: Array[String]): Unit = {
    val segments = Seq("x_mat_graph", "x_amortized_graph",
      "x_mat_shingles", "x_amortized_dedup",
      "x_mat_ann", "x_amortized_ann")
    val rows = (SparkEntry.queries.keys.toSeq ++ segments)
      .map(n => (Bench.key(n), n))
      .sortBy(_._1)
    val dup = rows.groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty, s"bench key collision: $dup")
    val md = (Seq(
      "# BENCH key map",
      "",
      "Decodes the compressed per-query keys in `bench_solo_r06.json` /",
      "`BENCH_r{N}.json`. Generated by `runMain graft.KeyMap` from",
      "Bench.scala's own abbreviation rules — regenerate after renaming",
      "keys; the generator fails on collisions.",
      "",
      "**Units (round 7+):** per-query values are integer DECISECONDS",
      "(`\"np\":61` = 6.1 s), marked by `\"qunit\":\"ds\"` on the line; the",
      "headline `\"value\"` stays in seconds. Rounds ≤6 used fractional",
      "seconds for per-query values.",
      "",
      "**qpack (round 9+):** the line carries a second, complete record:",
      "`\"qpack\":\"<entry><entry>…\"`, a fixed-width packed string of 4-char",
      "groups — 2-char key (this table) + 2-char lowercase **base36**",
      "value in deciseconds, clamped at `zz` (= 1295 ds = 129.5 s).",
      "Example: `np2r` = `q_neardup_candidates` at 99 ds = 9.9 s. Decode",
      "rule: where a key appears in BOTH `queries` and `qpack`, the",
      "`queries` dict value is exact and wins (clamped or refined entries",
      "ride the dict with priority); `qpack` is the authoritative complete",
      "record otherwise. This removes the round-8 capacity cliff (228 keys",
      "was the dict's exact fit): BenchContractSpec pins ≥320-key zero-loss",
      "capacity with the worst-case failure epilogue appended. `nq` +",
      "`dropped` appear only when an entry is in NEITHER carrier.",
      "",
      "**Loop keys read warm:** Bench times each key once, after the",
      "sf0.001 warm-up and the `probe_pr` q_pagerank run at the timed",
      "scale factor. A bounded graph loop memoizes its edge list's rows",
      "per table version (`Loops.onDriver`), so at the timed scale only",
      "the first loop key of each edge-list shape builds and collects its",
      "edge list; every later key of that shape (and every `(src, dst)`",
      "key, which the probe already read) fires no job for it. Loop-key",
      "values since the memo are warm and not comparable with earlier",
      "cold values.",
      "",
      "| key | query |",
      "| --- | --- |") ++
      rows.map { case (k, n) => s"| `$k` | `$n` |" })
      .mkString("", "\n", "\n")
    Files.writeString(Paths.get("BENCH_KEYS.md"), md)
    println(s"BENCH_KEYS.md written (${rows.size} keys)")
  }
}
