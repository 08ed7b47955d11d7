package graft

/** Engine-wide deterministic configuration.
  *
  * Parity target: the *intended* semantics of the reference pipeline
  * (`/root/reference` — Shingling.java:32-42 shingle construction,
  * MinHashLSH.java:87-118 signature+banding, MinHashLSH.java:150-193
  * verify, CollectCandidates.java:17-51 pair collection), with the
  * reference's bugs (SURVEY.md §2.4 Q1-Q12) fixed:
  *   - seeded hashing instead of unseeded permutations (Q7),
  *   - band index part of the bucket key (Q5),
  *   - Jaccard compares the two members, not one with itself (Q1),
  *   - exact shingle-set Jaccard for verification (Q9).
  *
  * MinHash uses the standard universal-hash construction (MMDS ch.3):
  * sig_i(doc) = min over shingles s of (a_i * h(s) + b_i) mod p, where
  * h is a base-31 polynomial character hash mod p. Everything is pure
  * 64-bit integer arithmetic so the DuckDB oracle can replay it
  * bit-identically (no engine-specific hash functions).
  */
object Config {
  /** 2^31 - 1, Mersenne prime — modulus for all portable hashing. */
  val P: Long = 2147483647L
  /** Polynomial hash base (fits chars; collisions only shave minhash
    * accuracy, never determinism). */
  val CharBase: Long = 31L

  /** Shingle length (reference: Main.java:53 k=3). */
  val K: Int = 3
  /** Signature length S = Bands * RowsPerBand. */
  val NumHashes: Int = 60
  /** LSH bands b. Calibrated on testdata: background char-3-gram
    * Jaccard p50≈0.46/p99≈0.64, planted near-dups ≥0.8; (b=10, r=6)
    * gives P(candidate | J=0.8) ≈ 0.95 and ≈0.09 at J=0.46. */
  val Bands: Int = 10
  /** Rows per band r. */
  val RowsPerBand: Int = 6
  /** Verified-similarity threshold on EXACT shingle-set Jaccard
    * (reference: Main.java:57 jaccardThreshold=0.8, intended as
    * similarity per MinHashLSH.java:177). */
  val Threshold: Double = 0.8
  /** The same threshold as an exact rational (per-cent numerator over
    * 100): recall-bound arithmetic (e.g. the containment prefix
    * length) must be integer-exact — `1.0 - 0.8` in doubles is
    * 0.19999999999999996, which shaves the prefix one gram short
    * whenever (1-t)*n lands on an integer. Both the Spark operator
    * and the DuckDB oracle derive the bound from THIS constant. */
  val ThresholdPct: Int = 80
  require(ThresholdPct / 100.0 == Threshold, "Threshold and ThresholdPct must agree")

  /** Candidate pre-filter: minimum number of agreeing signature
    * components (out of NumHashes) before paying for exact
    * verification. 36/60 = estimated Jaccard 0.6; for a true pair at
    * J=0.8 the estimate's sigma is ~0.05, so the false-drop rate is
    * ~4-sigma (~3e-5). Integer compare — no float threshold. */
  val EstPrefilterMinCount: Int = 36

  /** Seed for the affine hash family. */
  val Seed: Long = 42L

  /** The prefilter bound GENERALIZED to any verify threshold t: the
    * estimate for a true pair at J=t is Binomial(S, t)/S, so admit
    * anything within 4 sigma below the mean — agree count >=
    * ceil(S*t - 4*sqrt(S*t*(1-t))). At the default t=0.8 this IS
    * EstPrefilterMinCount (36); at lower operating points (e.g. the
    * reference-corpus parity fixture at t=0.3) a fixed 36 would
    * false-drop every true pair, which is why the bound must scale
    * with the threshold a caller actually asked for. */
  def estPrefilterMinCount(threshold: Double): Int = {
    val s = NumHashes.toDouble
    math.max(0, math.ceil(
      s * threshold - 4.0 * math.sqrt(s * threshold * (1.0 - threshold))).toInt)
  }
  require(estPrefilterMinCount(Threshold) == EstPrefilterMinCount,
    "threshold-derived prefilter must reproduce the calibrated default")

  /** Seeded affine coefficients (a_i in [1,P-1], b_i in [0,P-1]).
    * Embedded as literals into both the Spark plan and the generated
    * oracle SQL, so both engines use the same family. */
  lazy val coeffs: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(Seed)
    IndexedSeq.fill(NumHashes) {
      val a = java.lang.Math.floorMod(rnd.nextLong(), P - 1) + 1
      val b = java.lang.Math.floorMod(rnd.nextLong(), P)
      (a, b)
    }
  }

  /** Zero-padded signature column name, stable sort order. */
  def sigCol(i: Int): String = f"sig_$i%02d"
}
