package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Format bridge UDFs: YAML and XML → JSON text (then `parse_json` turns
  * the JSON into a queryable variant). UDF-hosted by necessity — no
  * Catalyst builtin parses YAML/arbitrary XML — mirroring the reference's
  * `parse_yaml`/`parse_xml` (`methods_strings.go:992-1065`,
  * `internal/xml/`). */
object Formats {

  private lazy val jsonMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  /** YAML document → canonical JSON string. */
  val yamlToJson: Column => Column = {
    val f = udf((s: String) => if (s == null) null else {
      val parsed = graft.runtime.Config.safeYaml.load[Any](s)
      jsonMapper.writeValueAsString(parsed)
    })
    c => f(c)
  }

  /** Any JSON-ish value (rendered from doc) → YAML string. */
  val jsonToYaml: Column => Column = {
    val f = udf((s: String) => if (s == null) null else {
      val tree = jsonMapper.readValue(s, classOf[Object])
      val opts = new org.yaml.snakeyaml.DumperOptions()
      // block style matches Go yaml.Marshal ("foo: bar\n", not "{foo: bar}")
      opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
      new org.yaml.snakeyaml.Yaml(opts).dump(tree)
    })
    c => f(c)
  }

  /** XML document → JSON string (elements → objects, repeated elements →
    * arrays, attributes prefixed "-", text content under "#text" — the
    * reference's conversion shape, `internal/xml/to_json.go`). */
  val xmlToJson: Column => Column = {
    val f = udf((s: String) => if (s == null) null else {
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      val doc = dbf.newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
      jsonMapper.writeValueAsString(
        java.util.Map.of(doc.getDocumentElement.getNodeName, elemToMap(doc.getDocumentElement)))
    })
    c => f(c)
  }

  private def elemToMap(e: org.w3c.dom.Element): Object = {
    val out = new java.util.LinkedHashMap[String, Object]()
    val attrs = e.getAttributes
    for (i <- 0 until attrs.getLength) {
      val a = attrs.item(i)
      out.put("-" + a.getNodeName, a.getNodeValue)
    }
    val children = e.getChildNodes
    val text = new StringBuilder
    for (i <- 0 until children.getLength) children.item(i) match {
      case c: org.w3c.dom.Element =>
        val v = elemToMap(c)
        out.get(c.getNodeName) match {
          case null => out.put(c.getNodeName, v)
          case l: java.util.List[_] =>
            l.asInstanceOf[java.util.List[Object]].add(v)
          case prev =>
            val l = new java.util.ArrayList[Object]()
            l.add(prev); l.add(v)
            out.put(c.getNodeName, l)
        }
      case t: org.w3c.dom.Text => text.append(t.getTextContent)
      case _ => ()
    }
    val trimmed = text.toString.trim
    if (out.isEmpty) trimmed
    else {
      if (trimmed.nonEmpty) out.put("#text", trimmed)
      out
    }
  }

  /** Recursive JSON-Schema subset check (`lib/processor/jsonschema.go`
    * semantics: invalid docs get flagged, not dropped). Supported
    * keywords: type (string or list), required, properties (recursive),
    * items (recursive), enum, minimum/maximum/exclusive*, minLength/
    * maxLength, minItems/maxItems, local $ref (#/definitions, #/$defs,
    * any local pointer), allOf/anyOf/oneOf/not. Remote $ref unsupported
    * (no egress). Returns null when valid, else the first violation. */
  def jsonSchemaError(jsonCol: Column, schemaJson: String): Column = {
    val schemaStr = schemaJson // serialize into the closure as text
    val f = udf((s: String) => if (s == null) "document is null" else {
      try {
        val schema = jsonMapper.readTree(schemaStr)
        val node = jsonMapper.readTree(s)
        jsonSchemaCheck(node, schema, "$", schema, 0).orNull
      } catch { case e: Exception => s"invalid JSON: ${e.getMessage}" }
    })
    f(jsonCol)
  }

  private type JNode = com.fasterxml.jackson.databind.JsonNode

  private def jsonSchemaCheck(n: JNode, schema: JNode, path: String,
      root: JNode, depth: Int): Option[String] = {
    def fail(msg: String) = Some(s"$path: $msg")
    def check(cn: JNode, cs: JNode, cp: String) =
      jsonSchemaCheck(cn, cs, cp, root, depth + 1)
    // self-referential schemas ($ref cycles) consume no input — cap depth
    if (depth > 64) return fail("schema nesting/$ref depth exceeded")
    // $ref: resolve a local JSON pointer; draft-07 semantics (the
    // resolved schema replaces this one entirely)
    if (schema.has("$ref")) {
      val ptr = schema.get("$ref").asText()
      return resolveLocalRef(root, ptr) match {
        case Some(t) => check(n, t, path)
        case None => fail(s"unresolvable $$ref $ptr")
      }
    }
    if (schema.has("allOf")) {
      val a = schema.get("allOf")
      var i = 0
      while (i < a.size()) {
        val r = check(n, a.get(i), path)
        if (r.isDefined) return r
        i += 1
      }
    }
    if (schema.has("anyOf")) {
      val a = schema.get("anyOf")
      if (!(0 until a.size()).exists(i => check(n, a.get(i), path).isEmpty))
        return fail("matches no anyOf branch")
    }
    if (schema.has("oneOf")) {
      val a = schema.get("oneOf")
      val hits = (0 until a.size()).count(i => check(n, a.get(i), path).isEmpty)
      if (hits != 1) return fail(s"matches $hits oneOf branches, need exactly 1")
    }
    if (schema.has("not") && check(n, schema.get("not"), path).isEmpty)
      return fail("matches 'not' schema")
    // type
    if (schema.has("type")) {
      val types = schema.get("type") match {
        case a if a.isArray => (0 until a.size()).map(a.get(_).asText())
        case t => scala.Seq(t.asText())
      }
      if (!types.exists(typeOk(n, _)))
        return fail(s"expected ${types.mkString("|")}")
    }
    // enum (value equality on the JSON tree)
    if (schema.has("enum")) {
      val e = schema.get("enum")
      if (!(0 until e.size()).exists(i => e.get(i) == n))
        return fail("not in enum")
    }
    if (n.isNumber) {
      val v = n.asDouble()
      if (schema.has("minimum") && v < schema.get("minimum").asDouble())
        return fail(s"below minimum ${schema.get("minimum").asDouble()}")
      if (schema.has("maximum") && v > schema.get("maximum").asDouble())
        return fail(s"above maximum ${schema.get("maximum").asDouble()}")
      if (schema.has("exclusiveMinimum") && v <= schema.get("exclusiveMinimum").asDouble())
        return fail("violates exclusiveMinimum")
      if (schema.has("exclusiveMaximum") && v >= schema.get("exclusiveMaximum").asDouble())
        return fail("violates exclusiveMaximum")
    }
    if (n.isTextual) {
      val len = n.asText().length
      if (schema.has("minLength") && len < schema.get("minLength").asInt())
        return fail("shorter than minLength")
      if (schema.has("maxLength") && len > schema.get("maxLength").asInt())
        return fail("longer than maxLength")
    }
    if (n.isArray) {
      if (schema.has("minItems") && n.size() < schema.get("minItems").asInt())
        return fail("fewer than minItems")
      if (schema.has("maxItems") && n.size() > schema.get("maxItems").asInt())
        return fail("more than maxItems")
      if (schema.has("items")) {
        val items = schema.get("items")
        var i = 0
        while (i < n.size()) {
          val r = check(n.get(i), items, s"$path[$i]")
          if (r.isDefined) return r
          i += 1
        }
      }
    }
    if (n.isObject) {
      if (schema.has("required")) {
        val req = schema.get("required")
        val missing = (0 until req.size()).map(req.get(_).asText())
          .filterNot(n.has)
        if (missing.nonEmpty)
          return fail(s"missing required field(s): ${missing.mkString(",")}")
      }
      if (schema.has("properties")) {
        val it = schema.get("properties").fields()
        while (it.hasNext) {
          val e = it.next()
          if (n.has(e.getKey)) {
            val r = check(n.get(e.getKey), e.getValue, s"$path.${e.getKey}")
            if (r.isDefined) return r
          }
        }
      }
    }
    None
  }

  /** Resolve a local `#/a/b` JSON pointer against the root schema
    * (RFC 6901 unescaping: ~1 → `/`, ~0 → `~`). `#` alone is the root. */
  private def resolveLocalRef(root: JNode, ptr: String): Option[JNode] = {
    if (!ptr.startsWith("#")) return None // remote refs: no egress
    val frag = ptr.drop(1).stripPrefix("/")
    if (frag.isEmpty) return Some(root)
    var cur = root
    for (seg <- frag.split("/")) {
      val key = seg.replace("~1", "/").replace("~0", "~")
      cur = if (cur.isArray && key.forall(_.isDigit)) cur.get(key.toInt)
            else cur.get(key)
      if (cur == null) return None
    }
    Some(cur)
  }

  private def typeOk(n: JNode, t: String): Boolean = t match {
    case "string" => n.isTextual
    case "number" => n.isNumber
    case "integer" => n.isIntegralNumber
    case "boolean" => n.isBoolean
    case "array" => n.isArray
    case "object" => n.isObject
    case "null" => n.isNull
    case _ => true
  }

  /** JSON array content → element JSON texts (`unarchive: json_array`,
    * `lib/processor/unarchive.go:222`). Null for non-array docs. */
  val jsonArrayElems: Column => Column = {
    val f = udf((s: String) => if (s == null) null else {
      try {
        val tree = jsonMapper.readTree(s)
        if (!tree.isArray) null
        else (0 until tree.size()).map(i => jsonMapper.writeValueAsString(tree.get(i)))
      } catch { case _: Exception => null }
    })
    c => f(c.cast(org.apache.spark.sql.types.StringType))
  }

  /** JSON object content → (key, element JSON) pairs, key-sorted
    * (`unarchive: json_map`, unarchive.go:247 — the reference iterates the
    * Go map in RANDOM order; sorted is the deterministic rendering). */
  val jsonMapElems: Column => Column = {
    val f = udf((s: String) => if (s == null) null else {
      try {
        val tree = jsonMapper.readTree(s)
        if (!tree.isObject) null
        else {
          val out = scala.collection.mutable.ListBuffer[(String, String)]()
          val it = tree.fields()
          while (it.hasNext) {
            val e = it.next()
            out += ((e.getKey, jsonMapper.writeValueAsString(e.getValue)))
          }
          out.sortBy(_._1).toSeq
        }
      } catch { case _: Exception => null }
    })
    c => f(c.cast(org.apache.spark.sql.types.StringType))
  }

  /** RFC-4180-ish CSV parse: records of quoted/unquoted fields. */
  private[graft] def parseCsv(s: String): scala.Seq[scala.Seq[String]] = {
    val rows = scala.collection.mutable.ListBuffer[scala.Seq[String]]()
    val row = scala.collection.mutable.ListBuffer[String]()
    val field = new StringBuilder
    var i = 0
    var inQuotes = false
    def endField(): Unit = { row += field.result(); field.clear() }
    def endRow(): Unit = {
      endField()
      if (row.nonEmpty && !(row.length == 1 && row.head.isEmpty)) rows += row.toList
      row.clear()
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { field += '"'; i += 1 }
          else inQuotes = false
        } else field += c
      } else c match {
        case '"' if field.isEmpty => inQuotes = true
        case ',' => endField()
        case '\r' =>
        case '\n' => endRow()
        case o => field += o
      }
      i += 1
    }
    if (field.nonEmpty || row.nonEmpty) endRow()
    rows.toList
  }

  /** CSV content → one JSON object per data row, keys from the header
    * record (`unarchive: csv`, unarchive.go:272-320; string values like
    * the reference). Null when a row is shorter than the header. */
  val csvRowsAsJson: Column => Column = {
    val f = udf((s: String) => if (s == null) null else {
      try {
        val recs = parseCsv(s)
        if (recs.isEmpty) scala.Seq.empty[String]
        else {
          val headers = recs.head
          recs.tail.map { r =>
            if (r.length < headers.length)
              throw new IllegalArgumentException("row has too few values")
            val node = jsonMapper.createObjectNode()
            headers.zip(r).foreach { case (h, v) => node.put(h, v); () }
            jsonMapper.writeValueAsString(node)
          }
        }
      } catch { case _: Exception => null }
    })
    c => f(c.cast(org.apache.spark.sql.types.StringType))
  }

  /** Benthos v3 message serialization (`lib/message/message.go:138`
    * ToBytes): uint32-BE part count, then per part uint32-BE length +
    * bytes — the `archive: binary` format. */
  val benthosSerialize: Column => Column = {
    val f = udf((parts: scala.Seq[Array[Byte]]) => {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(parts.length)
      parts.foreach { p =>
        val b = if (p == null) Array.emptyByteArray else p
        out.writeInt(b.length)
        out.write(b)
      }
      out.flush()
      bos.toByteArray
    })
    c => f(c)
  }

  /** Inverse of [[benthosSerialize]] (`message.go:171` FromBytes). Null
    * for malformed blobs. */
  val benthosDeserialize: Column => Column = {
    val f = udf((b: Array[Byte]) => if (b == null) null else try {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
      val n = in.readInt()
      require(n >= 0 && n < (1 << 24))
      (0 until n).map { _ =>
        val len = in.readInt()
        val buf = new Array[Byte](len)
        in.readFully(buf)
        buf
      }
    } catch { case _: Exception => null })
    c => f(c)
  }

  /** tar archive of (name, content) entries — the `archive: tar` format
    * (`lib/processor/archive.go`). */
  val tarOf: Column => Column = {
    val f = udf((entries: scala.Seq[org.apache.spark.sql.Row]) => {
      val out = new java.io.ByteArrayOutputStream()
      val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(out)
      entries.foreach { r =>
        val name = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(name)
        e.setSize(bytes.length)
        tar.putArchiveEntry(e)
        tar.write(bytes)
        tar.closeArchiveEntry()
      }
      tar.close()
      out.toByteArray
    })
    c => f(c)
  }

  /** Expand a tar archive to (name, content) entries — `unarchive: tar`. */
  val untar: Column => Column = {
    val f = udf((b: Array[Byte]) => if (b == null) null else {
      val in = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
        new java.io.ByteArrayInputStream(b))
      val buf = scala.collection.mutable.ListBuffer[(String, Array[Byte])]()
      var e = in.getNextEntry
      while (e != null) {
        if (!e.isDirectory) buf += ((e.getName, in.readAllBytes()))
        e = in.getNextEntry
      }
      buf.toSeq
    })
    c => f(c)
  }

  /** zip flavors of the same. */
  val zipOf: Column => Column = {
    val f = udf((entries: scala.Seq[org.apache.spark.sql.Row]) => {
      val out = new java.io.ByteArrayOutputStream()
      val zip = new java.util.zip.ZipOutputStream(out)
      entries.foreach { r =>
        zip.putNextEntry(new java.util.zip.ZipEntry(r.getString(0)))
        zip.write(r.getAs[Array[Byte]](1))
        zip.closeEntry()
      }
      zip.close()
      out.toByteArray
    })
    c => f(c)
  }

  val unzip: Column => Column = {
    val f = udf((b: Array[Byte]) => if (b == null) null else {
      val in = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(b))
      val buf = scala.collection.mutable.ListBuffer[(String, Array[Byte])]()
      var e = in.getNextEntry
      while (e != null) {
        if (!e.isDirectory) buf += ((e.getName, in.readAllBytes()))
        e = in.getNextEntry
      }
      buf.toSeq
    })
    c => f(c)
  }
}
