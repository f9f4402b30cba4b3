package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructField, StructType}

/** Content-identity hashing over arbitrary row schemas — the ONE
  * implementation behind `Curation.dedupCanonical`'s synthetic dedup keys
  * (where a key collision between distinct rows is ROW LOSS) and
  * `ParquetWarehouse.lastWins`' survivor tiebreak (where a collision
  * surrenders the documented content-deterministic survivor to partition
  * order). Both sites previously rolled their own near-identical logic,
  * and both carried the same two classes of CERTAIN collision:
  *
  *  - Spark's hash expressions SKIP null inputs (`hash(null)` leaves the
  *    seed unchanged), so a structural `xxhash64(cols…)` cannot tell
  *    `(a=NULL, b="x")` from `(a="x", b=NULL)`, nor a NULL struct from a
  *    struct of all NULLs — at any nesting depth;
  *  - MapType has no defined entry order, so maps either had to be
  *    excluded (row loss) or rendered order-sensitively (over-keying).
  *
  * The canonical form fixes both: every map — at any depth — is rewritten
  * to its key-sorted entry array (equal iff the entry SETS are equal),
  * and the value stream is hashed NULL-FLAG-FRAMED and LENGTH-PREFIXED
  * ([[contentHash]]): each leaf contributes exactly two hash inputs — a
  * never-null `isnull` flag and the value with null replaced by a fixed
  * type-zero — and each array contributes its flag, its size, and its
  * framed elements. The flags make nulls explicit (Spark's hash skips a
  * null INPUT, but a null leaf here still mixes its flag, and the zero
  * placeholder keeps every leaf's mix count fixed), and the size prefix
  * makes variable-length sections self-delimiting: a reader walking the
  * hash-input stream with the schema always knows where one column ends
  * and the next begins, so two distinct canonical values can never frame
  * to the same stream. (Without the size prefix they CAN — with columns
  * `(array<long>, array<long>)`, the rows `([0], [])` and `([], [0])`
  * frame to the same flat mix sequence, because a zero element's mixes
  * are indistinguishable from the neighbor array's flag mixes.) The only
  * remaining collisions are the random 64-bit kind — the same accepted
  * baseline as a structural hash, none of the certain ones.
  *
  * r14 shipped this object rendering the canonical row to JSON TEXT
  * (null-explicit, microsecond-pinned formats) and hashing the text —
  * correct, but a measured per-row CPU tax: at 10 M rows key-only, +122 %
  * over the structural hash on the documents shape and +274 % on a
  * timestamp-bearing upsert shape (measured at r15), almost
  * all of it timestamp/double text formatting. The framed binary form
  * needs no render at all — timestamps hash as their native micros long,
  * so the JSON path's millisecond-truncation trap (a live row-loss defect
  * once) cannot exist here by construction. The JSON form is kept as
  * [[contentHashJson]] for the probe and the equivalence spec
  * (ContentKeySpec pins that both forms induce the SAME row grouping on
  * adversarial near-collision data; the probe prices them).
  *
  * Floating-point columns carry one more render-vs-SQL divergence: Spark
  * treats `-0.0` and `0.0` as EQUAL (comparisons, grouping, and the
  * structural hash all normalize the sign), but they render as different
  * JSON text — a key built on the raw render would keep both copies of
  * rows differing only in a signed zero (over-keying in dedupCanonical)
  * and key them apart in lastWins. The canonical form therefore
  * normalizes every float/double — at any nesting depth — with `+ 0.0`:
  * one codegen'd add that maps -0.0 to +0.0 and is bit-exact for every
  * other value (IEEE 754: x + 0.0 == x for all x except -0.0; NaN stays
  * NaN, and every NaN payload keys equal — the binary form hashes through
  * `doubleToLongBits`, which canonicalizes NaN bits, and the JSON form
  * renders every NaN as the same "NaN" text — matching Spark's
  * all-NaNs-equal semantics).
  *
  * Interval/TIME-typed columns have no zero placeholder wired here and no
  * operator in this engine produces them; [[contentHash]] rejects them at
  * plan-build time with a named error — loud, not silent. */
object ContentKey {

  /** True iff Spark's hash expressions accept the type as-is — i.e. no
    * MapType anywhere inside it. Used only to decide whether a column
    * needs the canonical map rewrite before rendering. */
  def hashableType(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case a: ArrayType => hashableType(a.elementType)
    case s: StructType => s.fields.forall(f => hashableType(f.dataType))
    case _ => true
  }

  /** True iff the type holds a float/double anywhere — i.e. carries
    * signed zeros the render must normalize (see the object doc). */
  private def hasFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case a: ArrayType => hasFloat(a.elementType)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case _ => false
  }

  /** True iff the column needs the canonical rewrite before rendering:
    * a map anywhere (entry order) or a float anywhere (signed zeros). */
  private def needsRewrite(dt: DataType): Boolean =
    !hashableType(dt) || hasFloat(dt)

  /** The map-free shape of `dt`: every MapType — at any nesting depth —
    * replaced by its key-sorted array<struct<key,value>> entry form. */
  private def canonicalType(dt: DataType): DataType = dt match {
    case m: MapType => ArrayType(StructType(Seq(
      StructField("key", canonicalType(m.keyType), nullable = false),
      StructField("value", canonicalType(m.valueType), nullable = m.valueContainsNull))),
      containsNull = false)
    case a: ArrayType => a.copy(elementType = canonicalType(a.elementType))
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = canonicalType(f.dataType))))
    case other => other
  }

  /** Rewrite `c` (of type `dt`) into its canonical render form: maps
    * become `array_sort(map_entries(...))` at EVERY depth (keys are
    * unique within a map, so the sort is deterministic and two maps
    * canonicalize equal iff they hold the same entry set), floats and
    * doubles gain `+ 0.0` (signed-zero normalization — see the object
    * doc), and arrays and structs are rebuilt only as far as needed to
    * reach their maps/floats.
    *
    * Two traps this shape dodges:
    *  - a NULL struct must stay NULL through the rebuild — a bare
    *    `struct(fields...)` of a null row yields a struct of nulls,
    *    which renders (and therefore keys) EQUAL to a genuinely
    *    all-null struct: exactly the collision class this object exists
    *    to prevent;
    *  - the flat-map fast path (no rewrite-needing key or value) skips
    *    the per-entry struct rebuild — the lambda rebuilds run on
    *    Catalyst's interpreted HOF path and are reserved for schemas
    *    that actually nest maps (or floats inside arrays/maps; a BARE
    *    float column or struct field normalizes via the codegen'd add,
    *    no lambda anywhere). */
  def canonicalizeMaps(c: Column, dt: DataType): Column = dt match {
    case FloatType => c + lit(0.0f)
    case DoubleType => c + lit(0.0d)
    case m: MapType if !needsRewrite(m.keyType) && !needsRewrite(m.valueType) =>
      array_sort(map_entries(c))
    case m: MapType =>
      array_sort(transform(map_entries(c), e => struct(
        canonicalizeMaps(e.getField("key"), m.keyType).as("key"),
        canonicalizeMaps(e.getField("value"), m.valueType).as("value"))))
    case a: ArrayType if needsRewrite(a.elementType) =>
      transform(c, x => canonicalizeMaps(x, a.elementType))
    case s: StructType if needsRewrite(s) =>
      when(c.isNull, lit(null).cast(canonicalType(s)))
        .otherwise(struct(s.fields.toSeq.map(f =>
          canonicalizeMaps(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The never-null placeholder hashed in a null leaf's value slot. Any
    * fixed value works (the isnull flag already disambiguates null from
    * a genuine zero); what matters is that it is deterministic and typed.
    * Unsupported leaf types fail HERE, at plan build, with the type
    * named. */
  private def zeroOf(dt: DataType): Column = dt match {
    // a VOID column (an uncast lit(null)) is ALWAYS null — the flag says
    // everything; any fixed placeholder keeps the two-mixes-per-leaf
    // frame. The r14 JSON form accepted these (rendered as null), so the
    // binary form must too, not throw.
    case types.NullType => lit(0L)
    case types.StringType => lit("")
    case types.BinaryType => lit(Array.emptyByteArray)
    case types.BooleanType => lit(false)
    case types.ByteType | types.ShortType | types.IntegerType | types.LongType =>
      lit(0L).cast(dt)
    case FloatType => lit(0.0f)
    case DoubleType => lit(0.0d)
    case d: types.DecimalType => lit(BigDecimal(0)).cast(d)
    case types.DateType => to_date(lit("1970-01-01"))
    case types.TimestampType => timestamp_micros(lit(0L))
    case types.TimestampNTZType => lit("1970-01-01 00:00:00").cast(types.TimestampNTZType)
    case other => throw new IllegalArgumentException(
      s"ContentKey has no zero placeholder for leaf type ${other.sql} — " +
        "content hashing this type is unsupported")
  }

  /** Frame `c` (already in canonical, map-free shape `dt`) into its
    * hash-input columns — the null-flag/length-prefix encoding the object
    * doc describes. Per node:
    *   - leaf → `(isnull, coalesce(value, zero))`: exactly two mixes,
    *     null encoded in the flag, never by a skipped input;
    *   - struct → its own `isnull` flag, then each field framed (a NULL
    *     struct's fields read as null and frame as null leaves — the
    *     struct flag is what separates it from a struct of all nulls);
    *   - array → `isnull`, SIZE, then per-element framed structs (the
    *     size prefix is load-bearing — see the object doc; a null
    *     array's transform child is null and skips, which is fine
    *     because its flag+size (-1) already encode "null array").
    * The per-element struct rebuild runs on Catalyst's interpreted HOF
    * path — arrays pay it, flat schemas (both production sites today)
    * stay entirely inside codegen. */
  private def framed(c: Column, dt: DataType): Seq[Column] = dt match {
    case s: StructType =>
      isnull(c) +: s.fields.toSeq.flatMap(f => framed(c.getField(f.name), f.dataType))
    case a: ArrayType =>
      Seq(isnull(c), coalesce(size(c), lit(-1)),
        transform(c, x => struct(framed(x, a.elementType): _*)))
    case _ => Seq(isnull(c), coalesce(c, zeroOf(dt)))
  }

  /** 64-bit content hash over the given schema fields (resolved with
    * `col(name)`): xxhash64 over the null-flag-framed, length-prefixed
    * binary encoding of the map-canonical, float-normalized row — no
    * text render anywhere (see the object doc for why this replaced the
    * JSON form, and [[contentHashJson]] for that form). None when
    * `fields` is empty — the caller decides what an empty content means
    * at its site. */
  def contentHash(fields: Seq[StructField]): Option[Column] = {
    if (fields.isEmpty) None
    else Some(xxhash64(fields.flatMap { f =>
      framed(canonicalColumn(f), canonicalType(f.dataType))
    }: _*))
  }

  /** The canonical (map-free, float-normalized) form of field `f`,
    * resolved backtick-quoted: a bare col("a.b") parses a legal dotted
    * COLUMN name as a nested-field path and fails analysis (backticks
    * inside the name escape by doubling, per the parser). */
  private def canonicalColumn(f: StructField): Column = {
    val resolved = col(s"`${f.name.replace("`", "``")}`")
    if (needsRewrite(f.dataType)) canonicalizeMaps(resolved, f.dataType)
    else resolved
  }

  /** The r14 JSON-render form: xxhash64 of the null-explicit,
    * microsecond-pinned, map-canonical JSON text. Same grouping guarantees
    * as [[contentHash]] (ContentKeySpec pins the equivalence), strictly
    * more per-row CPU (the measured render tax in the object doc). Kept
    * for the A/B probe and as the cross-check implementation. */
  private[graft] def contentHashJson(fields: Seq[StructField]): Option[Column] = {
    if (fields.isEmpty) None
    else {
      val canonical = fields.map(f => canonicalColumn(f).as(f.name))
      Some(xxhash64(to_json(struct(canonical: _*), Map(
        "ignoreNullFields" -> "false",
        "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))))
    }
  }
}
