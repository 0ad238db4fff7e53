package graft.operators

/** Shared emitter for the pure-SQL XXH64 replay the DuckDB oracles use
  * ([[SimhashOracleSql]] seed-42 over word tokens, [[MinhashOracleSql]]
  * seed-as-a-COLUMN over 3-word shingles).
  *
  * DuckDB has no xxhash64, so the PUBLIC XXH64 spec is replayed in SQL:
  * unsigned-64 arithmetic modeled as HUGEINT mod 2⁶⁴, the 64×64→64
  * multiply split into 32-bit halves so no intermediate exceeds 128
  * bits, XOR through a signed-BIGINT round trip (bit-identical either
  * representation). Inputs are ≤31 bytes, so the <32-byte XXH64 path is
  * fully unrolled — 3 word steps, one 4-byte step, 3 byte steps, the
  * avalanche; an input ≥32 bytes raises a conversion error ON PURPOSE,
  * so a fixture change that grows inputs fails the gate loudly instead
  * of silently diverging. Each primitive (mul/rotl/xor) gets its own
  * star-carry CTE stage, keeping the emitted SQL linear (~20 KB) in the
  * number of steps rather than exponential in their nesting depth.
  *
  * Callers provide a `toww` CTE with columns `n` (byte length), `bl`
  * (1-based byte list as HUGEINT), `w` (little-endian 8-byte words, via
  * [[word64]]), plus whatever carry columns they need (`tok`, `sd`).
  * Validated by `tools/gen_xxh64_sql.py` / `tools/gen_minhash_sql.py`
  * (the same generators in Python, developed against Spark's own
  * xxhash64 outputs for strings of every tail-length class) and by
  * [[graft.SimhashOracleSpec]]'s spec-reference XXH64 cross-check.
  */
private[operators] object XxhashSqlChain {
  val M64 = "18446744073709551616::HUGEINT" // 2^64
  val M32 = "4294967296::HUGEINT" // 2^32
  val P1 = "11400714785074694791::HUGEINT"
  val P2 = "14029467366897019727::HUGEINT"
  val P3 = "1609587929392839161::HUGEINT"
  val P4 = "9650029242287828579::HUGEINT"
  val P5 = "2870177450012600261::HUGEINT"

  /** Little-endian 8-byte word k (0-based) from the 1-based byte list
    * `bl` — the lane expression for the `toww` CTE's `w` column. */
  val word64: String = (0 until 8)
    .map(j => s"bl[8*k+${j + 1}]*${BigInt(1) << (8 * j)}::HUGEINT")
    .mkString("(", " + ", ")")

  /** Little-endian 4-byte word at the first unconsumed offset after the
    * word steps — the 4-byte-step lane. */
  val word32: String = (0 until 4)
    .map(j => s"bl[(n//8)*8+${j + 1}]*${BigInt(1) << (8 * j)}::HUGEINT")
    .mkString("(", " + ", ")")

  /** The 1-based byte list of `tok`'s UTF-8 encoding — the `bl` column
    * for the caller's byte-frame CTE. */
  val byteList: String =
    """list_transform(range(1, octet_length(encode(tok))+1),
             i -> ((strpos('0123456789ABCDEF', substr(hex(encode(tok)), 2*i-1, 1))-1)*16
                 + (strpos('0123456789ABCDEF', substr(hex(encode(tok)), 2*i, 1))-1))::HUGEINT)"""

  final class Chain(firstPrev: String, namePrefix: String = "") {
    val stages = scala.collection.mutable.ArrayBuffer[(String, String)]()
    private var counter = 0

    /** One CTE computing `expr` AS x{i} over the previous stage
      * (star-carry so every earlier intermediate stays addressable).
      * `namePrefix` disambiguates CTE names when TWO chains share one
      * statement (e.g. the eval census's doc-sample hash next to the
      * shingle chain). */
    def stage(expr: String, carry: String = "*"): String = {
      counter += 1
      val name = s"$namePrefix" + s"s$counter"
      val prev = if (stages.isEmpty) firstPrev else stages.last._1
      val col = s"x$counter"
      stages += ((name, s"SELECT $carry, $expr AS $col FROM $prev"))
      col
    }

    /** (a·b) mod 2⁶⁴ via 32-bit half products (each < 2⁹⁶). */
    def mul(a: String, b: String): String = {
      val lo = stage(s"(($a)%$M32)*(($b)%$M32)")
      val cross = stage(s"((($a)%$M32)*(($b)//$M32) + (($a)//$M32)*(($b)%$M32))%$M32")
      stage(s"($lo + $cross*$M32)%$M64")
    }

    def rotl(x: String, r: Int): String = {
      val hi = 1L << r
      val lo = BigInt(1) << (64 - r)
      stage(s"((($x)*$hi::HUGEINT)%$M64) + (($x)//$lo::HUGEINT)")
    }

    def xor(a: String, b: String): String = {
      def i64(x: String) =
        s"(CASE WHEN ($x) >= 9223372036854775808::HUGEINT THEN ($x) - $M64 ELSE ($x) END)::BIGINT"
      val r = stage(s"xor(${i64(a)}, ${i64(b)})")
      stage(s"CASE WHEN $r < 0 THEN $r::HUGEINT + $M64 ELSE $r::HUGEINT END")
    }

    def shr(x: String, s: Int): String =
      stage(s"(($x)//${BigInt(1) << s}::HUGEINT)")

    def addm(a: String, b: String): String = stage(s"(($a) + ($b))%$M64")

    def guarded(cond: String, thenCol: String, elseCol: String): String =
      stage(s"CASE WHEN $cond THEN $thenCol ELSE $elseCol END")

    /** XXH64 round with acc = 0: rotl(lane·P2, 31)·P1. */
    def rnd0(lane: String): String = mul(rotl(mul(lane, P2), 31), P1)

    def wordStep(h: String, w: String, cond: String): String =
      guarded(cond, addm(mul(rotl(xor(h, rnd0(w)), 27), P1), P4), h)

    def fourStep(h: String, w32: String, cond: String): String =
      guarded(cond, addm(mul(rotl(xor(h, mul(w32, P1)), 23), P2), P3), h)

    def byteStep(h: String, b: String, cond: String): String =
      guarded(cond, mul(rotl(xor(h, mul(b, P5)), 11), P1), h)
  }

  /** The full unrolled <32-byte XXH64 pipeline over a `toww` frame:
    * `seedExpr` seeds the accumulator (a literal for simhash's fixed
    * seed 42, the `sd` column for minhash's 32 hash functions), and the
    * guarded final stage carries `finalCarry` forward. Returns
    * (ctes, finalHashColumn, lastStageName); conditional steps pass
    * dummy operand 0 when absent (guarded() discards the result;
    * coalesce keeps every stage non-NULL because list indexing past the
    * end yields NULL). */
  def emit(seedExpr: String, finalCarry: String): (String, String, String) = {
    val c = new Chain("toww")
    import c._
    var h = stage(s"(($seedExpr) + $P5 + n::HUGEINT)%$M64")
    h = wordStep(h, "coalesce(w[1], 0::HUGEINT)", "n//8 >= 1")
    h = wordStep(h, "coalesce(w[2], 0::HUGEINT)", "n//8 >= 2")
    h = wordStep(h, "coalesce(w[3], 0::HUGEINT)", "n//8 >= 3")
    h = fourStep(h, s"coalesce($word32, 0::HUGEINT)", "n%8 >= 4")
    h = byteStep(h, "coalesce(bl[n-(n%4)+1], 0::HUGEINT)", "n%4 >= 1")
    h = byteStep(h, "coalesce(bl[n-(n%4)+2], 0::HUGEINT)", "n%4 >= 2")
    h = byteStep(h, "coalesce(bl[n-(n%4)+3], 0::HUGEINT)", "n%4 >= 3")
    h = mul(xor(h, shr(h, 33)), P2)
    h = mul(xor(h, shr(h, 29)), P3)
    h = xor(h, shr(h, 32))
    val fin = stage(
      "CASE WHEN n >= 32 THEN CAST('xxh64-oracle-token-over-31-bytes' AS HUGEINT)" +
        s" ELSE $h END",
      carry = finalCarry)
    val ctes = c.stages.map { case (n, b) => s"$n AS ($b)" }.mkString(",\n")
    (ctes, fin, c.stages.last._1)
  }

  /** The <32-byte pipeline collapsed to its n = 8 case: Spark's
    * `xxhash64(<bigint col>)` — XXH64(seed 42) of the long's 8 LE
    * bytes (one word round + avalanche): the [[HllOracleSql]] register
    * hash, and the hash of the oracles that hash ID columns. The source
    * CTE (`src`, default `hvals`) must carry a `w` column = the long as
    * unsigned HUGEINT (`((CAST(id AS HUGEINT) % 2^64) + 2^64) % 2^64`).
    * Returns (ctes, signedHashCol, lastStageName); the hash column is
    * the SIGNED BIGINT Spark exposes (the orderBy/pmod input). */
  def emitLongHash(finalCarry: String, src: String = "hvals",
      namePrefix: String = ""): (String, String, String) = {
    val c = new Chain(src, namePrefix)
    import c._
    var h = stage(s"(42::HUGEINT + $P5 + 8::HUGEINT)%$M64")
    h = addm(mul(rotl(xor(h, rnd0("w")), 27), P1), P4)
    h = mul(xor(h, shr(h, 33)), P2)
    h = mul(xor(h, shr(h, 29)), P3)
    h = xor(h, shr(h, 32))
    val fin = stage(
      s"(CASE WHEN ($h) >= 9223372036854775808::HUGEINT THEN ($h) - $M64 ELSE ($h) END)::BIGINT",
      carry = finalCarry)
    val ctes = c.stages.map { case (n, b) => s"$n AS ($b)" }.mkString(",\n")
    (ctes, fin, c.stages.last._1)
  }
}
