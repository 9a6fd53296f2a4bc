package graft.model

import org.apache.spark.sql.types._

/** ClickHouse column-type → Spark `DataType` translator (columnTypeExpr,
  * /root/reference/generated_ch_parser/ClickHouseParser.py:14339-14477 —
  * the Simple / Param / Complex / Nested / Enum grammar alternatives).
  *
  * Width mapping follows the public ClickHouse↔Spark conventions: each CH
  * unsigned integer widens one Spark step (UInt8→Short … UInt64→Decimal(20,0))
  * because Spark has no unsigned types; `Nullable(T)` is Spark field
  * nullability, not a distinct type; `LowCardinality(T)` is a storage
  * encoding and erases to `T`; `Nested(...)` — CH stores parallel arrays
  * per leaf — round-trips as the row-oriented equivalent
  * `Array(Struct(...))`; `Enum8/16` carry symbolic string values, so they
  * read back as strings (the numeric codes are a storage detail).
  *
  * [[toCh]] is the canonical inverse; `toSpark(toCh(dt)) == dt` for every
  * Spark type Spark itself can produce (ChTypesSpec round-trips this under
  * ScalaCheck).
  */
object ChTypes {

  /** A parsed field: the Spark type plus CH's explicit nullability
    * (CH columns are non-nullable unless wrapped in Nullable). */
  final case class ChField(dataType: DataType, nullable: Boolean)

  /** Translate one CH type string to a Spark DataType. Nullability of the
    * OUTERMOST Nullable wrapper is surfaced via [[toSparkField]]; nested
    * Nullable wrappers land on containsNull/valueContainsNull/field
    * nullability as appropriate. */
  def toSpark(ch: String): DataType = toSparkField(ch).dataType

  def toSparkField(ch: String): ChField = parse(ch.trim)

  /** Schema form: `"a UInt32, b Nullable(String)"` → StructType. */
  def toSparkSchema(columns: String): StructType =
    StructType(splitTop(columns).map(parseNamed))

  // ---- parser -----------------------------------------------------------

  private def parse(s: String): ChField = {
    val (head, args) = splitHead(s)
    head match {
      // integers: CH unsigneds widen one Spark step (no unsigned in Spark)
      case "Int8" => ChField(ByteType, nullable = false)
      case "Int16" => ChField(ShortType, nullable = false)
      case "Int32" => ChField(IntegerType, nullable = false)
      case "Int64" => ChField(LongType, nullable = false)
      case "UInt8" => ChField(ShortType, nullable = false)
      case "UInt16" => ChField(IntegerType, nullable = false)
      case "UInt32" => ChField(LongType, nullable = false)
      case "UInt64" => ChField(DecimalType(20, 0), nullable = false)
      case "Int128" | "Int256" | "UInt128" | "UInt256" =>
        ChField(DecimalType(38, 0), nullable = false) // best-effort: Spark max precision
      case "Float32" => ChField(FloatType, nullable = false)
      case "Float64" => ChField(DoubleType, nullable = false)
      case "Bool" | "Boolean" => ChField(BooleanType, nullable = false)
      case "String" => ChField(StringType, nullable = false)
      case "FixedString" => ChField(StringType, nullable = false)
      case "UUID" | "IPv4" | "IPv6" | "JSON" | "Object" =>
        ChField(StringType, nullable = false)
      case "Date" | "Date32" => ChField(DateType, nullable = false)
      case "DateTime" => ChField(TimestampType, nullable = false)
      case "DateTime64" => ChField(TimestampType, nullable = false)
      case "Decimal" =>
        val ps = args.map(_.trim.toInt)
        require(ps.length == 2, s"Decimal(P, S) expects 2 params: $s")
        ChField(DecimalType(ps(0), ps(1)), nullable = false)
      case "Decimal32" => ChField(DecimalType(9, args.head.trim.toInt), nullable = false)
      case "Decimal64" => ChField(DecimalType(18, args.head.trim.toInt), nullable = false)
      case "Decimal128" | "Decimal256" =>
        ChField(DecimalType(38, args.head.trim.toInt), nullable = false)
      case "Enum8" | "Enum16" | "Enum" =>
        ChField(StringType, nullable = false) // symbolic names; codes are storage
      case "LowCardinality" => parse(args.head) // dictionary encoding erases
      case "Nullable" =>
        val inner = parse(args.head)
        ChField(inner.dataType, nullable = true)
      case "Array" =>
        val el = parse(args.head)
        ChField(ArrayType(el.dataType, containsNull = el.nullable), nullable = false)
      case "Map" =>
        require(args.length == 2, s"Map(K, V) expects 2 params: $s")
        val k = parse(args(0)); val v = parse(args(1))
        ChField(MapType(k.dataType, v.dataType, valueContainsNull = v.nullable),
          nullable = false)
      case "Tuple" =>
        // named form `Tuple(a UInt8, b String)` vs positional `Tuple(UInt8, String)`
        val named = args.forall(a => a.trim.matches("""[A-Za-z_][A-Za-z0-9_]*\s+\S.*"""))
        val fields =
          if (named && args.nonEmpty) args.map(parseNamed)
          else args.zipWithIndex.map { case (a, i) =>
            val f = parse(a); StructField(s"_${i + 1}", f.dataType, f.nullable)
          }
        ChField(StructType(fields), nullable = false)
      case "Nested" =>
        // CH Nested = parallel per-leaf arrays; row-oriented twin is
        // one array of structs (flattening back is an unzip, lossless)
        ChField(ArrayType(StructType(args.map(parseNamed)), containsNull = false),
          nullable = false)
      case "SimpleAggregateFunction" =>
        parse(args(1)) // state type == value type by definition
      case "AggregateFunction" =>
        // NOT opaque bytes: the state's storage type is exactly what the
        // matching xState combinator emits (graft.chsql.ChSql State arm),
        // so `CREATE TABLE (s AggregateFunction(sum, Decimal(18,2))) ...`
        // and `INSERT ... SELECT sumState(...)` line up schema-for-schema
        // — the typed twin of CH's AggregateFunction(f, T) annotation
        require(args.nonEmpty,
          s"AggregateFunction needs a function name: '$s'")
        ChField(aggStateType(args.head.trim.toLowerCase(java.util.Locale.ROOT),
          args.tail.map(a => parse(a).dataType), s), nullable = false)
      case other =>
        throw new IllegalArgumentException(s"unsupported ClickHouse type: $other in '$s'")
    }
  }

  /** Spark's `sum` aggregate result type (what sumState stores). */
  private def sumResult(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => DoubleType
  }

  /** sumMap/topK tuple-state value type (SumMapAgg's sumType: decimals
    * keep their scale un-widened, integrals fold to Long). */
  private def sumMapValue(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case d: DecimalType => d
    case _ => DoubleType
  }

  /** Storage type of an `AggregateFunction(stem, T...)` column — one
    * case per supported -State stem, mirroring the combinator's output
    * shape exactly. */
  private def aggStateType(stem: String, ts: Seq[DataType],
      full: String): DataType = {
    def arg0: DataType = ts.headOption.getOrElse(throw
      new IllegalArgumentException(s"AggregateFunction($stem) needs a " +
        s"value type: '$full'"))
    stem match {
      case "count" => LongType
      case "sum" => sumResult(arg0)
      case "min" | "max" | "any" => arg0
      case "avg" => StructType(Seq(
        StructField("s", sumResult(arg0), nullable = true),
        StructField("c", LongType, nullable = true)))
      case "uniq" | "uniqexact" | "grouparray" | "groupuniqarray" |
          "groupbitmap" =>
        ArrayType(arg0, containsNull = false)
      case "summap" =>
        require(ts.length == 2,
          s"AggregateFunction(sumMap, K, V) needs two types: '$full'")
        StructType(Seq(
          StructField("col1", ArrayType(ts(0), containsNull = false)),
          StructField("col2", ArrayType(sumMapValue(ts(1)), containsNull = false))))
      case "topk" => StructType(Seq(
        StructField("col1", ArrayType(arg0, containsNull = false)),
        StructField("col2", ArrayType(LongType, containsNull = false))))
      case other => throw new IllegalArgumentException(
        s"ChSql: AggregateFunction($other, ...) is not supported (supported " +
          "stems: count, sum, min, max, avg, any, uniq, uniqExact, " +
          "groupArray, groupUniqArray, topK, sumMap)")
    }
  }

  /** The aggregate-function stem of an `AggregateFunction(f, ...)` type
    * string, if it is one (case preserved as written) — lets DDL record
    * which merge an AggregatingMergeTree column needs. */
  def aggFunctionStem(ch: String): Option[String] = {
    val (head, args) = splitHead(ch.trim)
    if (head == "AggregateFunction" && args.nonEmpty) Some(args.head.trim)
    else None
  }

  /** Same for `SimpleAggregateFunction(f, T)` — the state IS the value
    * (the type erases to T), but AggregatingMergeTree still needs the
    * stem to know how the column folds on merge. */
  def simpleAggFunctionStem(ch: String): Option[String] = {
    val (head, args) = splitHead(ch.trim)
    if (head == "SimpleAggregateFunction" && args.nonEmpty)
      Some(args.head.trim)
    else None
  }

  /** `name Type` (nestedIdentifier columnTypeExpr). */
  private def parseNamed(s: String): StructField = {
    val t = s.trim
    val sp = t.indexWhere(_.isWhitespace)
    require(sp > 0, s"expected 'name Type', got '$t'")
    val f = parse(t.substring(sp + 1).trim)
    StructField(t.substring(0, sp), f.dataType, f.nullable)
  }

  /** Split `Head(args)` → (Head, top-level args); bare heads get Nil. */
  private def splitHead(s: String): (String, Seq[String]) = {
    val open = s.indexOf('(')
    if (open < 0) (s.trim, Nil)
    else {
      require(s.endsWith(")"), s"unbalanced type expression: '$s'")
      (s.substring(0, open).trim, splitTop(s.substring(open + 1, s.length - 1)))
    }
  }

  /** Top-level comma split on lexer tokens: commas inside parentheses
    * or string literals (Enum values like `'a,b' = 1`) do not split. */
  private def splitTop(s: String): Seq[String] = {
    val c = new graft.chsql.ChSql.Cur(s)
    c.items(0, c.end).map { case (a, b) => c.slice(a, b) }
  }

  /** The same type with every nullability flag relaxed to nullable —
    * Spark's `Cast` refuses a NOT NULL target field from a nullable
    * source, so casting EXISTING columns to a translated CH type goes
    * through this form (CH's non-nullable contract is then enforced by
    * the data, not the cast). */
  def relaxed(dt: DataType): DataType = dt match {
    case a: ArrayType => ArrayType(relaxed(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(relaxed(m.keyType), relaxed(m.valueType), valueContainsNull = true)
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxed(f.dataType), nullable = true)))
    case other => other
  }

  // ---- canonical inverse ------------------------------------------------

  /** Canonical CH type for a Spark DataType (the inverse direction a
    * round-trip needs; CH types that alias in Spark — e.g. UInt8/Int16 —
    * come back as the canonical signed form). */
  def toCh(dt: DataType, nullable: Boolean = false): String = {
    val base = dt match {
      case ByteType => "Int8"
      case ShortType => "Int16"
      case IntegerType => "Int32"
      case LongType => "Int64"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case BooleanType => "Bool"
      case StringType => "String"
      case DateType => "Date"
      case TimestampType => "DateTime"
      case BinaryType => "AggregateFunction(any, String)"
      case d: DecimalType if d.precision == 20 && d.scale == 0 => "UInt64"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case a: ArrayType => s"Array(${toCh(a.elementType, a.containsNull)})"
      case m: MapType =>
        s"Map(${toCh(m.keyType)}, ${toCh(m.valueType, m.valueContainsNull)})"
      case st: StructType =>
        st.fields.map(f => s"${f.name} ${toCh(f.dataType, f.nullable)}")
          .mkString("Tuple(", ", ", ")")
      case other =>
        throw new IllegalArgumentException(s"no ClickHouse mapping for $other")
    }
    if (nullable) s"Nullable($base)" else base
  }
}
