package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cleansing scalar functions F1–F27 (SURVEY.md §2.8) as pure Catalyst
  * `Column → Column` combinators — every one stays inside whole-stage
  * codegen (no UDFs), so they cost the same as built-ins at 100 TB.
  *
  * Semantics mirror `/root/reference/utils/parse.py` and the
  * create_sheets family; each function cites its source.
  */
object CleaningFunctions {

  /** Strip ASCII letters (parse.py:19 `x not in string.ascii_letters`). */
  private def stripLetters(c: Column): Column =
    regexp_replace(c, "[A-Za-z]", "")

  /** F1 — split_lat (parse.py:16-26): after letter-strip, take the first
    * coordinate from `"32.11,128.11"` | `"38.05 N 120.62 W"` (4 space
    * tokens incl. empties) | `"a_b"`; unknown shapes → null. */
  def splitLat(c: Column): Column = {
    val s = stripLetters(c)
    when(size(split(s, ",", -1)) === 2, split(s, ",", -1).getItem(0))
      .when(size(split(s, " ", -1)) === 4, split(s, " ", -1).getItem(0))
      .when(size(split(s, "_", -1)) === 2, split(s, "_", -1).getItem(0))
  }

  /** F1 — split_long (parse.py:29-39): second coordinate (indexes 1/2/1). */
  def splitLong(c: Column): Column = {
    val s = stripLetters(c)
    when(size(split(s, ",", -1)) === 2, split(s, ",", -1).getItem(1))
      .when(size(split(s, " ", -1)) === 4, split(s, " ", -1).getItem(2))
      .when(size(split(s, "_", -1)) === 2, split(s, "_", -1).getItem(1))
  }

  /** F2 — dms2dd (parse.py:43-69): DMS `0°51'56.29"S` → signed decimal
    * degrees. 4-part = deg/min/sec/dir, 3-part = deg/min/dir; S/W negate;
    * malformed numerics → 0.0 (the reference's ValueError path); inputs
    * without DMS markers pass through as a double cast (the reference
    * returns them unchanged). Also available as the codegen'd
    * [[DmsToDecimal]] expression. */
  def dms2dd(c: Column): Column = {
    val parts = split(c, "[°'\"]+")
    val n = size(parts)
    def f(i: Int) = parts.getItem(i).try_cast("double")
    val sign4 = when(parts.getItem(3).isin("S", "W"), -1.0).otherwise(1.0)
    val sign3 = when(parts.getItem(2).isin("S", "W"), -1.0).otherwise(1.0)
    val dd4 = (f(0) + f(1) / 60 + f(2) / 3600) * sign4
    val dd3 = (f(0) + f(1) / 60) * sign3
    when(c.rlike("[°'\"]"),
      when(n === 4, coalesce(dd4, lit(0.0)))
        .when(n === 3, coalesce(dd3, lit(0.0))))
      .otherwise(c.try_cast("double"))
  }

  /** F3 — check_date (parse.py:72-83): `"Y1,Y2"` → `"Y1/Y2"`;
    * `M/D/Y` → `Y-MM-DD` with zero-pad; anything else unchanged. */
  def checkDate(c: Column): Column = {
    val commas = split(c, ",", -1)
    val slashes = split(c, "/", -1)
    when(size(commas) === 2, concat_ws("/", commas.getItem(0), commas.getItem(1)))
      .when(size(slashes) === 3,
        concat_ws("-", slashes.getItem(2),
          lpad(slashes.getItem(0), 2, "0"),
          lpad(slashes.getItem(1), 2, "0")))
      .otherwise(c)
  }

  /** F4 — check_lat (parse.py:86-94): force northern hemisphere (abs). */
  def checkLat(c: Column): Column = abs(c.try_cast("double"))

  /** F4 — check_long (parse.py:97-105): force western hemisphere (-abs). */
  def checkLong(c: Column): Column = -abs(c.try_cast("double"))

  /** F5 — name normalization (parse.py:275-289, update_metadata.py:144-147):
    * `.` and space → `_`. */
  def normalizeName(c: Column): Column = translate(c, ". ", "__")

  /** URL canonicalization — the normalize-before-dedup step of a web
    * corpus pipeline (two crawls of one page must collide):
    * scheme+host lowercased (path stays case-sensitive), default ports
    * (:80 http, :443 https) dropped, trailing path slashes dropped,
    * tracking params (`utm_*`, `fbclid`) removed, surviving query
    * params SORTED, missing scheme defaulted to http. Built from
    * codegen string/array functions only; the DuckDB oracle spells the
    * identical regex pipeline. */
  def canonicalizeUrl(c: Column): Column = {
    val scheme = lower(coalesce(
      nullif(regexp_extract(c, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1), lit("")),
      lit("http")))
    val after = regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(after, "^([^/?#]*)", 1))
    val host = when(scheme === "http" && hostport.endsWith(":80"),
        regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https" && hostport.endsWith(":443"),
        regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = regexp_replace(
      regexp_extract(after, "^[^/?#]*([^?#]*)", 1), "/+$", "")
    // strip the fragment BEFORE extracting the query: a '?' inside the
    // fragment ('/p#a?b=1') must not be read as a query string
    val query = regexp_extract(
      regexp_replace(after, "#.*$", ""), "\\?(.*)$", 1)
    val params = array_join(array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid)="))), "&")
    concat(scheme, lit("://"), host, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))
  }

  /** F6 — whitespace-only → null (gsheets.py:21-23). */
  def blankToNull(c: Column): Column =
    when(trim(c) === "", lit(null)).otherwise(c)

  /** F7 — library_ID derivation (create_sheets.py:31): text before `_R1`. */
  def libraryId(c: Column): Column = split(c, "_R1").getItem(0)

  /** F8 — read-pair prefix (create_sheets.py:40-41):
    * `re.split("_R\\d[._]", f)[0]`, whole string when no marker. */
  def pairPrefix(c: Column): Column = {
    val m = regexp_extract(c, "^(.*?)_R\\d[._]", 1)
    when(c.rlike("_R\\d[._]"), m).otherwise(c)
  }

  /** F9 — title template (create_sheets.py:32). */
  def wgsTitle(organism: Column): Column =
    concat(lit("Whole genome sequencing of "), organism)

  /** F10 — lat_lon compose (create_sheets.py:186; TEST3:471-474:
    * "NaN,NaN" → "not provided"). */
  def latLonCompose(lat: Column, long: Column): Column = {
    val raw = concat_ws(",", lat.cast("string"), long.cast("string"))
    when(raw === "NaN,NaN", "not provided").otherwise(raw)
  }

  /** F11 — isolate compose (create_sheets.py:188-192). */
  def isolate(organism: Column, sampleName: Column): Column =
    concat(regexp_replace(organism, " ", "_"), lit("_"), sampleName)

  /** F12/F13 — constant/default fill (create_sheets.py:134-140,
    * TEST3:298-303): missing column → created, null → default. */
  def fillDefaults(df: org.apache.spark.sql.DataFrame,
      defaults: Map[String, String]): org.apache.spark.sql.DataFrame =
    defaults.foldLeft(df) { case (d, (c, v)) =>
      if (d.columns.contains(c)) d.withColumn(c, coalesce(col(c), lit(v)))
      else d.withColumn(c, lit(v))
    }

  /** SRA constant defaults (create_sheets.py:134-140). */
  val sraDefaults: Map[String, String] = Map(
    "library_strategy" -> "WGS",
    "library_source" -> "GENOMIC",
    "library_selection" -> "RANDOM",
    "library_layout" -> "PAIRED",
    "platform" -> "Illumina",
    "instrument_model" -> "Illumina NovaSeq 6000",
    "filetype" -> "fastq")

  /** F14 — geo_loc_name precedence cascade (create_sheets_TEST3.py:269-296):
    * existing geo_loc wins; else "USA: {state}: {county}"; else
    * "USA: {state}"; else locality; else "missing". */
  def geoLocCascade(geoLoc: Column, locality: Column, county: Column,
      state: Column): Column =
    when(geoLoc.isNotNull && trim(geoLoc) =!= "", geoLoc)
      .when(state.isNotNull && county.isNotNull,
        concat(lit("USA: "), state, lit(": "), county))
      .when(state.isNotNull, concat(lit("USA: "), state))
      .when(locality.isNotNull && trim(locality) =!= "", locality)
      .otherwise(lit("missing"))

  /** F16 — placeholder substitution (create_sheets.py:90-97). */
  def refGenomePlaceholder(c: Column): Column =
    when(c.isNull || c === "NaN", "refGenomePlaceholder").otherwise(c)

  /** F16 — quote-strip + trim (create_sheets.py:92-97). */
  def dequote(c: Column): Column = trim(regexp_replace(c, "\"", ""))

  /** F17 — YES/NO gate (update_reads.py:215-221): YES → 1, else null. */
  def yesNoGate(c: Column): Column =
    when(upper(c) === "YES", lit(1))

  /** F18 — TRUE/FALSE string bool (coordinate_assign_1.py:40-43). */
  def boolUpper(c: Column): Column = upper(c.cast("string")) === "TRUE"

  /** F19 — expected-read / depth math (variance_files.py:115-121). */
  val ReadsPerByte = 0.013534218984527578
  def expectedReads(filesize: Column): Column =
    round(filesize * lit(ReadsPerByte))
  def depth(numReads: Column, genomeSize: Column): Column =
    round(numReads * 150 / genomeSize, 3)

  /** F26 — comma multi-id split (update_reads.py:78). */
  def commaIds(c: Column): Column = split(c, ",")

  /** F27 — separator-variant candidate keys (update_reads.py:92-126):
    * {id, `_`→`-`, strip `-`, `-`→`_`}, deduped. */
  def idVariants(c: Column): Column =
    array_distinct(array(
      c,
      regexp_replace(c, "_", "-"),
      regexp_replace(c, "-", ""),
      regexp_replace(c, "-", "_")))
}
