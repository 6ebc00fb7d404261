package graft.functions

/** Engine-agnostic hashing used by dedup / fingerprint / checksum operators.
  *
  * The correctness gate compares Spark results against a DuckDB oracle, so
  * every hash that appears in an oracle-checked query must be computable
  * identically in both engines. md5 is the only hash both share bit-for-bit;
  * we take its first 8 hex digits as an unsigned 32-bit value in a BIGINT
  * (the same trick the reference's content-diff would need — it deep-compares
  * dicts, /root/reference/src/migration.py:124-130; we compare hashes).
  *
  * DuckDB equivalent of [[md5h32]]: `('0x' || substr(md5(x), 1, 8))::BIGINT`.
  */
object Hashing {

  /** SQL fragment: 32-bit md5-prefix hash of expression `e` as BIGINT. */
  def md5h32(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 8), 16, 10) AS BIGINT)"

  /** MinHash universal-hash parameters: h_i(x) = (a_i*x + b_i) mod P.
    * P is the smallest prime > 2^32 so the 32-bit md5 hashes spread over the
    * full residue space; a_i*x stays < 2^63 (no overflow in either engine). */
  val MinhashPrime = 4294967311L
  val MinhashParams: Seq[(Long, Long)] =
    Seq((1000003L, 12345L), (2000003L, 54321L), (3000017L, 98765L), (4000037L, 13579L))
}
