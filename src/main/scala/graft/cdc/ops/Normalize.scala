package graft.cdc.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar normalization column functions mirroring the reference's decode
  * helpers. Everything here is a codegen'd Catalyst expression — built-ins,
  * plus the native `normalize_epoch_millis` — no UDFs, so the whole chain
  * stays inside WholeStageCodegen.
  */
object Normalize {

  /** Exact integer division for non-negative longs (Python `//`, DuckDB
    * `//`). `a - a%b` is an exact multiple of b; its double image errs by
    * < 1024 ulps ≪ b for our magnitudes, so rounding the quotient back to
    * the nearest integer is exact (Spark's `/` is double division).
    */
  def intDiv(a: Column, b: Column): Column =
    round((a - (a % b)) / b, 0).cast("long")

  /** P3 — epoch-timestamp unit normalization to milliseconds.
    *
    * Mirrors `_normalize_commit_ms` (reference
    * `app/services/sf_pubsub.py:215-227`): values are ns if > 1e14
    * (integer-divide by 1e6), ms if > 1e11 (pass through), s if > 1e9
    * (multiply by 1000), otherwise passed through as-is ("small test
    * values"); non-integral input → null (the `int(val)` failure path).
    * Resolves the native [[graft.functions.NormalizeEpochMillis]] by name:
    * the frame it is used on registers it first
    * ([[graft.plans.GraftExtensions.register]]).
    */
  def commitMsLong(v: Column): Column = call_function("normalize_epoch_millis", v)

  /** P3 over stringly-typed input: non-integral strings → null. */
  def commitMs(raw: Column): Column = commitMsLong(raw.try_cast("long"))

  /** P4 — messy-boolean normalization.
    *
    * Mirrors the FlashField__c normalization (reference
    * `app/services/sf_pubsub.py:691-716`) for string-typed input:
    * lower+strip, then "true"/"1"/"yes"/"y" → true,
    * "false"/"0"/"no"/"n"/"" → false, null → null, anything else → null
    * (the reference logs-and-skips; the log side-channel is dropped).
    *
    * Case folds only the upper-case letters of the accepted words:
    * `lower` runs Spark's ICU case mapping, whose first call per JVM
    * fills a table for every code point (~1.2 s). The verdict is the
    * same: the only non-ASCII character that lower-cases to ASCII is the
    * Kelvin sign (to `k`), which no accepted word holds.
    */
  def boolNorm(s: Column): Column = {
    val t = translate(trim(s), "TRUEYSNOFAL", "trueysnofal")
    when(s.isNull, lit(null).cast("boolean"))
      .when(t.isin("true", "1", "yes", "y"), lit(true))
      .when(t.isin("false", "0", "no", "n", ""), lit(false))
      .otherwise(lit(null).cast("boolean"))
  }

  /** P4, numeric branch: the reference falls back to `bool(x)` for numbers
    * (non-zero → true). Exposed for typed (non-string) inputs.
    */
  def boolNormNumeric(n: Column): Column =
    when(n.isNull, lit(null).cast("boolean")).otherwise(n =!= lit(0))

  /** P8 — secret masking (reference `_mask`, `app/models.py:26-31`):
    * null/empty pass through, values of ≤4 chars are fully starred,
    * longer values keep the last 4 chars and star the rest.
    */
  def maskSecret(s: Column): Column =
    when(s.isNull || s === lit(""), s)
      .when(length(s) <= 4, repeat(lit("*"), length(s).cast("int")))
      .otherwise(concat(repeat(lit("*"), (length(s) - 4).cast("int")), substring(s, -4, 4)))

  /** P9 — URL scheme normalization (reference `validate_login_url`,
    * `app/models.py:69-77`): trim, prepend "https://" when no
    * http/https scheme is present.
    */
  def normalizeUrl(s: Column): Column = {
    val t = trim(s)
    when(s.isNull, lit(null).cast("string"))
      .when(t.startsWith("http://") || t.startsWith("https://"), t)
      .otherwise(concat(lit("https://"), t))
  }

  /** P9 — topic-name shape check (reference `validate_topic`,
    * `app/models.py:92-97`): must start with "/data/" and contain
    * "ChangeEvent".
    */
  def validTopic(s: Column): Column =
    s.isNotNull && s.startsWith("/data/") && s.contains("ChangeEvent")

  /** P9 — host:port shape check (reference `validate_pubsub_host`,
    * `app/models.py:99-104`).
    */
  def validHostPort(s: Column): Column = s.isNotNull && s.contains(":")

  /** P9 — permissive email shape check (reference delegates to pydantic's
    * EmailStr, `app/models.py:86-90`; we apply the standard single-@ rule).
    */
  def validEmail(s: Column): Column =
    s.isNotNull && s.rlike("^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$")

  /** P6 — base64 encode of a binary replay id (reference
    * `_b64encode`, `app/services/sf_pubsub.py:202-204`).
    */
  def b64(bin: Column): Column = base64(bin)

  /** P6 — base64 decode back to binary (`_b64decode`, `:206-210`);
    * invalid input → null rather than the reference's ValueError.
    */
  def unb64(s: Column): Column = unbase64(s)
}
