package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy-join scale smoke (builder tooling): entity resolution over a
  * planted-typo corpus at millions of names — the trigram-blocking
  * recall claim, measured beyond toy size. Usage:
  * runMain graft.FuzzySmoke [nNames]
  *
  * Corpus: names from a small token vocabulary plus a high-entropy
  * code region (`"<adj> <material> <shape> <10-hex-code>"`) — the
  * realistic mix where VOCABULARY grams are stopword-hot (df ~ N/30
  * per side, useless and quadratic-dangerous for blocking) while the
  * base-36 code grams are near-unique. The right side is a deterministic
  * corruption of the left: one early-name character replaced, plus a
  * second replacement for every third id → planted pairs at
  * Levenshtein distance 1-2, code region intact.
  *
  * GRAM SELECTIVITY IS THE SCALE CONTRACT, and this smoke documents
  * it the quantitative way: candidate volume is Σ_g df_l(g)·df_r(g) ≈
  * N·grams_per_name·d̄ where d̄ is the per-gram df — LINEAR only when
  * surviving grams are near-unique (d̄ = O(1), i.e. gram space ≳ N).
  * Two designs that look reasonable and are NOT: (a) trigrams over
  * decimal record ids — every digit trigram has df ≈ N/250 per side,
  * under any sane cap yet collectively ~10¹⁰ pairs at 1M (the first
  * cut of this smoke demonstrated it the hard way); (b) wider grams
  * over the same decimal ids — prefix skew keeps Σ df² quadratic at
  * every width. The fix mirrors production blocking keys: the name
  * carries a high-entropy region (here a 10-hex-char content hash;
  * in real linkage a postcode+house-number, SKU, phone tail) whose
  * grams have df ≈ N·w/16⁵ ≈ O(1) — those survive the cap and do the
  * blocking; EVERY structural gram (vocabulary tokens, token
  * boundaries) is hot and the side-tagged cap drops them all. The
  * alphabet is part of the contract: the same 10-char code in HEX
  * (16⁵ ≈ N possible windows → df ≈ 6) measured 2.7·10⁸ candidates
  * and 100s walls; base 36 (36⁵ ≈ 60·N) collapses it to ~N pairs.
  *
  * What it proves (SCALE.md):
  *   - recall: with the hot-gram df cap ENGAGED (dropping every
  *     vocabulary gram), planted ≤2-edit pairs are still recovered
  *     through their selective grams — asserted ≥ 0.95;
  *   - linear wall: 4× the names must cost < 8× the wall (the
  *     candidate join is keyed on gram; nothing quadratic survives
  *     the cap at the right gram size);
  *   - the cap actually bites: hot grams exist at this vocabulary
  *     (sanity-checked by construction) and precision stays exact
  *     (every emitted dist ≤ maxDist, planted or not).
  */
object FuzzySmoke {

  private val adjs = Seq("amber", "azure", "beige", "black", "blue",
    "coral", "cream", "cyan", "gold", "green", "grey", "ivory", "jade",
    "khaki", "lilac", "maroon", "mauve", "navy", "olive", "peach",
    "pink", "plum", "red", "rose", "ruby", "rust", "sand", "silver",
    "teal", "white")
  private val mats = Seq("alloy", "bamboo", "brass", "bronze", "canvas",
    "carbon", "ceramic", "chrome", "copper", "cotton", "denim", "felt",
    "fiber", "glass", "granite", "iron", "leather", "linen", "marble",
    "nickel", "nylon", "oak", "pewter", "pine", "quartz", "resin",
    "steel", "stone", "velvet", "wool")
  private val shapes = Seq("anchor", "barrel", "basket", "beam", "bolt",
    "box", "bracket", "clamp", "coil", "cone", "crate", "cube", "dial",
    "disc", "dome", "frame", "gear", "hinge", "hook", "lever", "panel",
    "pipe", "plate", "prism", "ring", "rod", "sphere", "spool", "tube",
    "wheel")

  private def pick(xs: Seq[String], h: Column): Column =
    element_at(lit(xs.toArray), (pmod(h, lit(xs.size)) + 1).cast("int"))

  /** Left table: (id, name) — three vocabulary tokens plus the
    * high-entropy code region: 9 BASE-36 chars of the id's hash.
    * Base 36 matters, not just length: a width-5 gram over hex has
    * only 16⁵ ≈ 10⁶ possible values ≈ N, so every code gram carries
    * df ≈ 6 and Σ df² still reached 2.7·10⁸ candidate pairs at 1M
    * (measured); over base 36 the same window has 36⁵ ≈ 6·10⁷ values
    * and code grams are near-unique.
    */
  def names(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      concat_ws(" ",
        pick(adjs, xxhash64(col("id") * 31L)),
        pick(mats, xxhash64(col("id") * 37L + 5L)),
        pick(shapes, xxhash64(col("id") * 41L + 11L)),
        lpad(conv(pmod(xxhash64(col("id") * 53L + 7L),
          lit(101559956668416L)).cast("string"), 10, 36), 9, "0"))
        .as("name"))

  /** One '#' replacement at a length-derived position, a second one
    * five characters later for every third id → dist 1-2 planted.
    */
  def corrupted(base: DataFrame): DataFrame = {
    def replaceAt(c: Column, pos: Column): Column =
      concat(c.substr(lit(1), pos - lit(1)), lit("#"),
        c.substr(pos + lit(1), length(c)))
    val p1 = (length(col("name")) % 7) + lit(2)
    val once = replaceAt(col("name"), p1)
    val twice = when(col("id") % 3 === 0 && length(col("name")) > p1 + 5,
      replaceAt(once, p1 + lit(5))).otherwise(once)
    base.select(col("id").as("rid"), twice.as("cname"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = ToolSession()
    def run(rows: Long): (Double, Long, Long) = {
      // cap scales with the RUN size and sits BETWEEN the gram
      // classes: interior code grams and boundary grams with >=3 code
      // chars have df O(1)-ish (value space >= 30·36³ ≈ 10⁶), while
      // vocabulary grams (~rows/30 per side) AND the sneaky
      // small-space boundary class — windows with only 1-2 code chars
      // ("ket 99": ~30 vocab tails × 36² values, df ~ rows/13k per
      // side at ANY gram width) — sit far above it and drop. The
      // measured lesson: the cap, not gram width, is what removes the
      // small-space boundary classes.
      val cap = math.max(20L, rows / 20000L)
      val l = names(spark, rows)
      val r = corrupted(l)
      val t0 = System.nanoTime()
      val out = graft.extra.Fuzzy.fuzzyJoin(l, "id", "name",
          r, "rid", "cname", maxDist = 2, n = 6, maxGramDf = Some(cap))
        .persist()
      try {
        val total = out.count()
        val planted = out.filter(col("id_l") === col("rid_r")).count()
        val bad = out.filter(col("dist") > 2).count()
        require(bad == 0, s"$bad rows beyond maxDist — verify broke")
        ((System.nanoTime() - t0) / 1e9, planted, total)
      } finally out.unpersist(blocking = false)
    }

    run(math.max(n / 20, 1000)) // warmup: codegen + JIT
    val (wSmall, pSmall, _) = run(n / 4)
    val (wFull, planted, total) = run(n)
    val recall = planted.toDouble / n
    val recallSmall = pSmall.toDouble / (n / 4)
    val ratio = wFull / wSmall
    println(f"[fuzzy-smoke] n=$n cap=${math.max(20L, n / 20000L)} " +
      f"wall=$wFull%.1fs " +
      f"wall_quarter=$wSmall%.1fs ratio_4x=$ratio%.2f " +
      f"recall=$recall%.4f recall_quarter=$recallSmall%.4f " +
      f"pairs_total=$total")
    require(recall >= 0.95, f"planted recall $recall%.4f < 0.95")
    require(ratio < 8.0,
      f"4x names cost $ratio%.2fx wall — super-linear, cap not holding")
    spark.stop()
    println("[fuzzy-smoke] OK")
  }
}
