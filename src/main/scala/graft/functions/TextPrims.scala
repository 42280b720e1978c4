package graft.functions

/** Dialect-paired SQL fragments for text hashing/tokenization.
  *
  * Dedup and text-analysis operators must produce *identical* values in
  * Spark and in the DuckDB oracle. Instead of hand-keeping two
  * implementations in sync, each primitive here renders the same integer
  * arithmetic in both dialects; all hashes are exact `BIGINT` math
  * (polynomial rolling hash mod 1e9+7), so cross-engine equality is exact,
  * not tolerance-based.
  *
  * Spark fragments are used via `expr(...)` — they stay inside Catalyst's
  * codegen (higher-order array functions), no UDFs, so the hot path remains
  * whole-stage-codegen'd and scale-safe.
  */
object TextPrims {

  sealed trait Dialect
  case object SparkD extends Dialect
  case object DuckD extends Dialect

  // hash modulus (fits products with seeds in int64); a constant value
  // definition, so PolyHash's hot fold still sees a compile-time literal
  final val P = 1000000007L

  /** Characters of `s` as a BIGINT ascii array (empty-safe both dialects;
    * Spark's split('', -1) emits a trailing "" which must be filtered). */
  def asciiChars(s: String, d: Dialect): String = d match {
    case SparkD => s"transform(filter(split($s, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))"
    case DuckD  => s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))"
  }

  /** Rolling polynomial hash of a string: fold (acc*31 + codepoint) mod P.
    *
    * Spark side plans as the native [[graft.functions.PolyHash]] codegen
    * expression (registered as `graft_polyhash` by GraftExtensions) — the
    * expr form allocated one string per character plus two lambda
    * dispatches before any arithmetic, on the hottest path of the whole
    * text family. PolyHashSpec pins it bit-identical to [[polyhashExpr]]. */
  def polyhash(s: String, d: Dialect): String = d match {
    case SparkD => s"graft_polyhash($s)"
    case DuckD =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), ${asciiChars(s, d)}), (acc, c) -> (acc*31 + c) % $P)"
  }

  /** The pre-native Spark fragment (split-per-char + ascii fold) — the
    * equivalence baseline PolyHashSpec pins [[polyhash]] against. */
  def polyhashExpr(s: String): String =
    s"aggregate(${asciiChars(s, SparkD)}, CAST(0 AS BIGINT), (acc, c) -> (acc*31 + c) % $P)"

  /** Position-weighted checksum: sum of codepoint × 1-based position
    * (t4's pos_checksum). Spark side plans as the native
    * [[graft.functions.PosChecksum]]; same spec as [[polyhash]]. */
  def posChecksum(s: String, d: Dialect): String = d match {
    case SparkD => s"graft_poschecksum($s)"
    case DuckD =>
      s"CAST(list_sum(list_transform(${asciiChars(s, d)}, (c, i) -> c * CAST(i AS BIGINT))) AS BIGINT)"
  }

  /** The pre-native Spark fragment for [[posChecksum]] — the equivalence
    * baseline PolyHashSpec pins it against. */
  def posChecksumExpr(s: String): String =
    s"aggregate(transform(${asciiChars(s, SparkD)}, " +
      "(c, i) -> c * (CAST(i AS BIGINT) + 1)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  /** Regex as a SQL string literal: Spark's parser eats one backslash
    * level; DuckDB's standard-SQL literals pass backslashes through. */
  def reLit(d: Dialect, raw: String): String = d match {
    case SparkD => "'" + raw.replace("\\", "\\\\") + "'"
    case DuckD  => "'" + raw + "'"
  }

  /** Whitespace tokens. */
  def tokens(s: String, d: Dialect): String = d match {
    case SparkD => s"split($s, '\\\\s+')"
    case DuckD  => s"string_split_regex($s, '\\s+')"
  }

  /** Hash each element of a string array. */
  def hashEach(arr: String, d: Dialect): String = d match {
    case SparkD => s"transform($arr, t -> ${polyhash("t", d)})"
    case DuckD  => s"list_transform($arr, t -> ${polyhash("t", d)})"
  }

  /** Adjacent word 2-gram shingles of a token array (deduplicated).
    * Guarded for <2 tokens: Spark's sequence(1,0) would count *down*. */
  def wordShingles(toks: String, d: Dialect): String = d match {
    case SparkD =>
      s"CASE WHEN size($toks) < 2 THEN array() ELSE " +
      s"array_distinct(transform(sequence(1, size($toks)-1), " +
      s"i -> concat(element_at($toks, i), '_', element_at($toks, i+1)))) END"
    case DuckD =>
      s"list_distinct(list_transform(range(1, len($toks)), " +
      s"i -> $toks[CAST(i AS INT)] || '_' || $toks[CAST(i AS INT)+1]))"
  }

  /** Character k-gram shingles (deduplicated). */
  def charShingles(s: String, k: Int, d: Dialect): String = d match {
    case SparkD =>
      s"CASE WHEN length($s) < $k THEN array() ELSE " +
      s"array_distinct(transform(sequence(1, length($s)-${k - 1}), " +
      s"i -> substring($s, i, $k))) END"
    case DuckD =>
      s"list_distinct(list_transform(range(1, length($s)-${k - 2}), " +
      s"i -> substr($s, CAST(i AS INT), $k)))"
  }

  /** MinHash seeds: fixed, small enough that a*h + b stays in int64. */
  val minhashSeeds: Seq[(Long, Long)] = Seq(
    (387143L, 4673L), (51749L, 96731L), (99371L, 20201L), (745181L, 3677L),
    (130531L, 541L), (415379L, 77377L), (270959L, 8609L), (619463L, 11173L),
    (33391L, 64601L), (560689L, 907L), (174907L, 33049L), (802711L, 5843L))

  /** One minhash value: min over hashed shingles of (a·h + b) mod P. */
  def minhashOne(hashes: String, a: Long, b: Long, d: Dialect): String = d match {
    case SparkD => s"array_min(transform($hashes, h -> ($a*h + $b) % $P))"
    case DuckD  => s"list_min(list_transform($hashes, h -> ($a*h + $b) % $P))"
  }

  /** 16-bit SimHash of a hashed-token array: bit i set iff the count of
    * hashes with bit i set exceeds half (sum of ±1 ≥ 0). */
  def simhash16(hashes: String, d: Dialect): String = {
    val bitSums = (0 until 16).map { i =>
      val vote = d match {
        case SparkD =>
          s"aggregate($hashes, CAST(0 AS BIGINT), (acc, h) -> acc + (CASE WHEN (shiftright(h, $i) & 1) = 1 THEN 1 ELSE -1 END))"
        case DuckD =>
          s"CAST(list_sum(list_transform($hashes, h -> CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT)"
      }
      s"(CASE WHEN $vote >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    bitSums.mkString("(", " + ", ")")
  }
}
