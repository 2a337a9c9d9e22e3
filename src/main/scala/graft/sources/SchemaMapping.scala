package graft.sources

/** Identifier and value-list utilities shared by the dialect layer
  * (reference `schema.go`, `mysql_enumset.go`, `post.go:185-203`).
  */
object SchemaMapping {

  /** F14 — camelCase/PascalCase → snake_case with acronym-run handling:
    * `HTMLParser` → `html_parser`, `nameASCII` → `name_ascii`
    * (reference `schema.go:12-33`).
    */
  def snakeCase(s: String): String = {
    if (s.isEmpty) return s
    val sb = new StringBuilder
    val cs = s.toCharArray
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (c.isUpper) {
        val prevLower = i > 0 && (cs(i - 1).isLower || cs(i - 1).isDigit)
        val nextLower = i + 1 < cs.length && cs(i + 1).isLower
        val prevUpper = i > 0 && cs(i - 1).isUpper
        if ((prevLower || (prevUpper && nextLower)) && sb.nonEmpty &&
          sb.last != '_') sb.append('_')
        sb.append(c.toLower)
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** FNV-1a 64-bit hash (reference uses FNV for enum type naming,
    * `ddl.go:117-128`).
    */
  def fnv1a64(s: String): Long =
    graft.plans.Fnv1a.mixBytes(graft.plans.Fnv1a.Offset, s.getBytes("UTF-8"))

  /** FNV-1a 32-bit hash (identifier-truncation suffix,
    * reference `post.go:185-203`).
    */
  def fnv1a32(s: String): Int = {
    var h = 0x811c9dc5
    for (b <- s.getBytes("UTF-8")) {
      h ^= (b & 0xff)
      h *= 0x01000193
    }
    h
  }

  /** Shared enum type name from its sorted value set
    * (reference `ddl.go:117-128`): value-set-identical enums across
    * tables share one PG type. The reference hashes each sorted value
    * followed by a 0x00 terminator (including after the last value),
    * so generated names match the reference byte-for-byte.
    */
  def enumTypeName(values: Seq[String]): String =
    f"pgferry_enum_${fnv1a64(values.sorted.map(_ + "\u0000").mkString)}%016x"

  /** Truncate an identifier to PG's 63-byte limit, disambiguating with an
    * FNV-32 suffix (reference `post.go:185-203`).
    */
  def truncateIdentifier(name: String, maxBytes: Int = 63): String = {
    if (name.getBytes("UTF-8").length <= maxBytes) name
    else {
      val suffix = f"_${fnv1a32(name)}%08x"
      val budget = maxBytes - suffix.getBytes("UTF-8").length
      val bytes = name.getBytes("UTF-8")
      // cut at a UTF-8 boundary within budget
      var cut = math.min(budget, bytes.length)
      while (cut > 0 && (bytes(cut - 1) & 0xc0) == 0x80) cut -= 1
      new String(bytes, 0, cut, "UTF-8") + suffix
    }
  }

  /** F18 — parse a MySQL `enum('a','b')` / `set('x','y')` column type's
    * value list, honoring `''` doubling and backslash escapes
    * (reference `mysql_enumset.go:8-58`).
    */
  def parseEnumSetValues(columnType: String): Seq[String] = {
    val open = columnType.indexOf('(')
    val close = columnType.lastIndexOf(')')
    require(open >= 0 && close > open,
      s"not an enum/set type: $columnType")
    val body = columnType.substring(open + 1, close)
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (!inQuote) {
        if (c == '\'') { inQuote = true; cur.clear() }
        // commas/whitespace between quoted values are skipped
      } else c match {
        case '\'' if i + 1 < body.length && body.charAt(i + 1) == '\'' =>
          cur.append('\''); i += 1
        case '\'' =>
          inQuote = false; out += cur.toString
        case '\\' if i + 1 < body.length =>
          cur.append(body.charAt(i + 1)); i += 1
        case other => cur.append(other)
      }
      i += 1
    }
    require(!inQuote, s"unterminated quote in: $columnType")
    out.result()
  }

  /** F16 — PG string-literal escaping (`ddl.go:100-102`). */
  def pgLiteral(s: String): String = "'" + s.replace("'", "''") + "'"

  /** F15 — PG identifier quoting (`schema.go:37-39`). */
  def pgIdent(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Target-side identifier: snake_case (default) or lowercased
    * (reference `schema.go` / `source_mysql.go:30-35`).
    */
  def pgName(source: String, snake: Boolean): String =
    if (snake) snakeCase(source) else source.toLowerCase

  /** Bridge from the introspected IR to the pipeline's [[TableMeta]]:
    * resolves PG types through the dialect matrix, maps identifiers and
    * DEFAULT expressions, and records the unsigned / on-update-timestamp
    * columns the optional post steps need (reference model assembly in
    * `main.go:183-189` + `post.go:102-158,436-472` eligibility).
    */
  def toTableMeta(
      dialect: SourceDialect,
      table: graft.SourceTable,
      fks: Seq[ForeignKeyMeta],
      opts: TypeOptions,
      snake: Boolean = true,
      preserveDefaults: Boolean = true): TableMeta = {
    def ident(c: String) = pgName(c, snake)
    val cols = table.columns.map { c =>
      val mapped = dialect.resolve(c, opts)
      // collation policy (citext promotion + COLLATE clause) applies
      // after type resolution, exactly like ddl.go:45-56
      val pgType = CollationCompat.applyConfigPolicy(c, mapped.pg, opts)
      (ident(c.name), pgType, c.nullable,
        if (preserveDefaults)
          c.default.flatMap(d => DdlGenerator.mapDefault(dialect.name, d))
        else None)
    }
    // enum_mode=check / set_mode=text_array_check CHECK clauses
    // (ddl.go:177-214); MySQL is the only source with enum/set
    val checks =
      if (dialect.name != "mysql") Nil
      else table.columns.flatMap { c =>
        val dt = c.dataType.toLowerCase
        lazy val values = parseEnumSetValues(c.columnType)
        if (dt == "enum" && opts.effectiveEnumMode("mysql") == "check" &&
            values.nonEmpty)
          Some(s"CHECK (${pgIdent(ident(c.name))} IN " +
            s"(${values.map(pgLiteral).mkString(", ")}))")
        else if (dt == "set" && opts.setMode == "text_array_check" &&
            values.nonEmpty)
          Some(s"CHECK (${pgIdent(ident(c.name))} <@ " +
            s"ARRAY[${values.map(pgLiteral).mkString(", ")}]::text[])")
        else None
      }
    val unsigned = table.columns.collect {
      case c if c.columnType.toLowerCase.contains("unsigned") &&
        !(c.columnType.toLowerCase.startsWith("tinyint(1)") &&
          opts.tinyint1AsBoolean) =>
        (ident(c.name), c.dataType.toLowerCase)
    }
    val onUpdate = table.columns.collect {
      case c if c.extra.toLowerCase.contains(
        "on update current_timestamp") => ident(c.name)
    }
    def mapIx(ix: IndexMeta) =
      ix.copy(name = ident(ix.name), columns = ix.columns.map(ident))
    TableMeta(
      name = ident(table.name),
      columns = cols,
      primaryKey = table.indexes.find(_.isPrimary).map(mapIx),
      indexes = table.indexes.filterNot(_.isPrimary).map(mapIx),
      foreignKeys = fks.map(fk => fk.copy(
        name = ident(fk.name),
        columns = fk.columns.map(ident),
        refTable = ident(fk.refTable),
        refColumns = fk.refColumns.map(ident))),
      unsignedColumns = unsigned,
      onUpdateColumns = onUpdate,
      checks = checks)
  }
}
