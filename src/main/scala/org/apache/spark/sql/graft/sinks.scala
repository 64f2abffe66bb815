package org.apache.spark.sql.graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Graph sinks (reference: basicSinks.scala, MermaidSink.scala,
  * Neo4jAuraSink.scala — re-derived, not ported).
  *
  * Common options (reference: basicSinks.scala:58-70):
  *   - `outputDirPath` (required for save)
  *   - `filenamePrefix` (default "sqlflow")
  *   - `overwrite` ("true"/"false", default false — error if dir exists)
  *   - `sep` for the adjacency list (default " -> ")
  */
private[graft] object SinkIO {
  def prepareDir(options: Map[String, String]): File = {
    val dirPath = options.getOrElse("outputDirPath",
      throw new IllegalArgumentException("`outputDirPath` option is required"))
    val overwrite = options.get("overwrite").exists(_.toBoolean)
    val dir = new File(dirPath)
    if (dir.exists() && !overwrite) {
      throw new IllegalStateException(
        s"output dir $dirPath already exists (pass overwrite=true to replace)")
    }
    if (dir.exists()) { // delete-then-mkdir (reference: basicSinks.scala:34-49)
      def rm(f: File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        if (!f.delete() && f.exists()) {
          throw new java.io.IOException(s"could not clear output dir entry $f")
        }
      }
      rm(dir)
    }
    dir.mkdirs()
    dir
  }

  def writeFile(dir: File, name: String, content: String): File = {
    val f = new File(dir, name)
    Files.write(f.toPath, content.getBytes(StandardCharsets.UTF_8))
    f
  }

  def timestampDirName(): String =
    LocalDateTime.now().format(DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS"))

  /** Run an external rendering tool with a hard timeout, degrading to the
    * already-written text artifact when the binary is absent, exits
    * non-zero, or hangs (reference: SinkUtils.scala:97-108 — same
    * discipline for both `dot` and `mmdc`). Returns true iff the image was
    * produced. */
  def renderImage(command: Seq[String], fallbackPath: String): Boolean = {
    try {
      val p = new ProcessBuilder(command: _*)
        .redirectErrorStream(true)
        // discard the merged output: an undrained pipe blocks the tool once
        // the OS buffer fills on warning-heavy renders
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .start()
      if (!p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        System.err.println(s"[sqlflow] `${command.head}` timed out; wrote $fallbackPath only")
        false
      } else if (p.exitValue() != 0) {
        System.err.println(
          s"[sqlflow] `${command.head}` exited ${p.exitValue()}; wrote $fallbackPath only")
        false
      } else true
    } catch {
      case _: java.io.IOException =>
        System.err.println(s"[sqlflow] `${command.head}` not available; wrote $fallbackPath only")
        false
    }
  }

  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
}

/** Graphviz dot sink: each node is rendered as an HTML-ish table whose rows
  * are columns; edges target row ports so column-level lineage is visible.
  * Cached nodes are light blue (reference: basicSinks.scala:87-212). */
case class GraphVizSink() extends FlowBatchSink with FlowStreamSink with FlowFormat {
  import GraphVizSink._
  import SinkIO._

  /** One pass over one builder, sized from the strings' lengths; user text
    * (idents, column names) is copied as given, escaped for the HTML-like
    * labels only. */
  override def toGraphString(nodes: Seq[FlowNode], edges: Seq[FlowEdge]): String = {
    val sb = new java.lang.StringBuilder(renderedLength(nodes, edges))
    sb.append(Header)
    var sep = "\""
    val ns = nodes.iterator
    while (ns.hasNext) {
      val n = ns.next()
      sb.append(sep).append(n.uniqueId).append(head(n))
      sep = "\n\""
      appendEscaped(sb, n.ident)
      sb.append("</i></td></tr>\n")
      var i = 0
      val as = n.attributes.iterator
      while (as.hasNext) {
        if (i == 0) sb.append(FirstRow)
        else if (i < Small) sb.append(Row(i))
        else sb.append("\n<tr><td port=\"").append(i).append("\">")
        appendEscaped(sb, as.next())
        sb.append("</td></tr>")
        i += 1
      }
      sb.append("\n</table>>];")
    }
    sb.append('\n')
    sep = "\""
    val es = edges.iterator
    while (es.hasNext) {
      val e = es.next()
      sb.append(sep).append(e.fromId)
      sep = "\n\""
      if (e.fromIdx.isEmpty) sb.append("\" -> \"")
      else {
        val i = e.fromIdx.get
        if (i >= 0 && i < Small) sb.append(FromCol(i)) else sb.append("\":").append(i).append(" -> \"")
      }
      sb.append(e.toId)
      if (e.toIdx.isEmpty) sb.append("\";")
      else {
        val j = e.toIdx.get
        if (j >= 0 && j < Small) sb.append(ToCol(j)) else sb.append("\":").append(j).append(';')
      }
    }
    sb.append("\n}\n").toString
  }

  override def write(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = {
    val dir = prepareDir(options)
    val prefix = options.getOrElse("filenamePrefix", "sqlflow")
    val dot = writeFile(dir, s"$prefix.dot", toGraphString(nodes, edges))
    // optional image rendering via the external `dot` binary (reference:
    // basicSinks.scala:169-176); degrades to .dot-only when absent
    options.get("imgFormat").foreach { fmt =>
      val out = new File(dir, s"$prefix.$fmt")
      renderImage(Seq("dot", s"-T$fmt", dot.getAbsolutePath, "-o", out.getAbsolutePath),
        dot.getPath)
    }
  }

  /** Listener mode: fresh timestamped subdir per query
    * (reference: basicSinks.scala:193-211). */
  override def append(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = {
    val base = options.getOrElse("outputDirPath",
      throw new IllegalArgumentException("`outputDirPath` option is required"))
    // uniquified: two queries finishing in the same millisecond must not
    // overwrite each other's lineage
    var dir = new File(base, timestampDirName())
    var seq = 0
    while (!dir.mkdirs() && seq < 10000) {
      seq += 1
      dir = new File(base, s"${timestampDirName()}-$seq")
    }
    val prefix = options.getOrElse("filenamePrefix", "sqlflow")
    writeFile(dir, s"$prefix.dot", toGraphString(nodes, edges))
  }
}

object GraphVizSink {
  private val Header = "digraph {\n" +
    "  graph [pad=\"0.5\" nodesep=\"0.5\" ranksep=\"1\" fontname=\"Helvetica\" rankdir=LR];\n" +
    "  node [shape=plaintext]\n\n"

  /** A node's text between its uid and its ident, by colour. */
  private def nodeHead(color: String): String =
    "\" [color=\"" + color + "\" label=<\n<table>\n  <tr><td bgcolor=\"" + color + "\"><i>"
  private val CachedHead = nodeHead("lightblue")
  private val TableHead = nodeHead("black")
  private val ViewHead = nodeHead("blue")
  private val OtherHead = nodeHead("lightgray")

  private def head(n: FlowNode): String =
    if (n.isCached) CachedHead else n.tpe match {
      case FlowNodeType.Table => TableHead
      case FlowNodeType.View => ViewHead
      case _ => OtherHead
    }

  /** Text around column numbers below `Small`, shared by every render: an
    * attribute row's start, an edge's source column up to its target's
    * uid, and an edge's target column to its end. */
  private val Small = 1024
  private val FirstRow = "<tr><td port=\"0\">"
  private val Row = Array.tabulate(Small)(i => "\n<tr><td port=\"" + i + "\">")
  private val FromCol = Array.tabulate(Small)(i => "\":" + i + " -> \"")
  private val ToCol = Array.tabulate(Small)(i => "\":" + i + ";")

  /** Bit c is set for each character c that labels escape: `"`, `&`, `<`, `>`. */
  private val Escaped: Long = (1L << '"') | (1L << '&') | (1L << '<') | (1L << '>')

  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length && (s.charAt(i) >= 64 || ((Escaped >>> s.charAt(i)) & 1L) == 0)) i += 1
    if (i == s.length) sb.append(s)
    else {
      sb.append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '&' => sb.append("&amp;")
          case '<' => sb.append("&lt;")
          case '>' => sb.append("&gt;")
          case '"' => sb.append("&quot;")
          case c => sb.append(c)
        }
        i += 1
      }
    }
  }

  /** The rendered length but for escapes, or more: a builder of this
    * capacity grows only for labels that hold escaped characters. */
  private def renderedLength(nodes: Seq[FlowNode], edges: Seq[FlowEdge]): Int = {
    val rowEnd = "</td></tr>".length
    val wide = 10 // an Int's characters beyond the one of column 0
    var len = Header.length + 1 + "\n}\n".length
    val ns = nodes.iterator
    while (ns.hasNext) {
      val n = ns.next()
      len += 2 + n.uniqueId.length + head(n).length + n.ident.length +
        "</i></td></tr>\n".length + "\n</table>>];".length
      var i = 0
      val as = n.attributes.iterator
      while (as.hasNext) {
        len += (if (i < Small) Row(i).length else Row(0).length + wide) + as.next().length + rowEnd
        i += 1
      }
    }
    def col(idx: Option[Int], none: Int, frags: Array[String]): Int =
      if (idx.isEmpty) none else if (idx.get >= 0 && idx.get < Small) frags(idx.get).length else frags(0).length + wide
    val es = edges.iterator
    while (es.hasNext) {
      val e = es.next()
      len += 2 + e.fromId.length + col(e.fromIdx, 6, FromCol) + e.toId.length + col(e.toIdx, 2, ToCol)
    }
    len
  }
}

/** Mermaid flowchart sink (reference: MermaidSink.scala). */
case class MermaidSink() extends FlowBatchSink with FlowFormat {
  import SinkIO._

  override def toGraphString(nodes: Seq[FlowNode], edges: Seq[FlowEdge]): String = {
    // index suffix keeps sanitized ids collision-free ("x_a.b" and "x.a_b"
    // would otherwise both sanitize to "x_a_b" and merge in the chart)
    val midMap: Map[String, String] = nodes.map(_.uniqueId).distinct.zipWithIndex.map {
      case (id, i) => id -> s"${id.replaceAll("[^A-Za-z0-9_]", "_")}_$i"
    }.toMap
    def mid(id: String): String = midMap.getOrElse(id, id.replaceAll("[^A-Za-z0-9_]", "_"))
    val nodeStrs = nodes.map { n =>
      val cols = n.attributes.map(escape).mkString("<br/>")
      val label = s"<b>${escape(n.ident)}</b>${if (cols.nonEmpty) "<br/>" + cols else ""}"
      s"""  ${mid(n.uniqueId)}["$label"]"""
    }
    val edgeStrs = edges.map { e =>
      val lab = (e.fromIdx, e.toIdx) match {
        case (Some(i), Some(j)) => s"|$i->$j|"
        case _ => ""
      }
      s"  ${mid(e.fromId)} -->$lab ${mid(e.toId)}"
    }.distinct
    ("flowchart LR" +: (nodeStrs ++ edgeStrs)).mkString("\n") + "\n"
  }

  override def write(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = {
    val dir = prepareDir(options)
    val prefix = options.getOrElse("filenamePrefix", "sqlflow")
    val mmd = writeFile(dir, s"$prefix.mmd", toGraphString(nodes, edges))
    // optional svg/png/pdf rendering via mermaid-cli, mirroring the dot
    // path (reference: MermaidSink.scala:30-75); degrades to .mmd-only
    options.get("imgFormat").foreach { fmt =>
      val out = new File(dir, s"$prefix.$fmt")
      renderImage(Seq("mmdc", "-i", mmd.getAbsolutePath, "-o", out.getAbsolutePath,
        "-e", fmt), mmd.getPath)
    }
  }
}

/** Adjacency-list sink (reference: basicSinks.scala:214-231). */
case class AdjacencyListSink(sep: String = " -> ") extends FlowBatchSink with FlowFormat {
  import SinkIO._

  override def toGraphString(nodes: Seq[FlowNode], edges: Seq[FlowEdge]): String = {
    val byFrom = edges.groupBy(_.fromId)
    nodes.flatMap { n =>
      byFrom.get(n.uniqueId).map { es =>
        val dsts = es.map(_.toId).distinct.mkString(",")
        s"${n.uniqueId}$sep$dsts"
      }
    }.mkString("\n") + "\n"
  }

  override def write(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = {
    val dir = prepareDir(options)
    val prefix = options.getOrElse("filenamePrefix", "sqlflow")
    val s = options.getOrElse("sep", sep)
    writeFile(dir, s"$prefix.lst", copy(sep = s).toGraphString(nodes, edges))
  }
}

/** The MERGE/CONSTRAINT statement stream the reference sends to Neo4j Aura
  * (Neo4jAuraSink.scala:124-214) — shared by [[CypherFileSink]] (statements
  * to a file) and [[Neo4jAuraSink]] (statements through a transport). */
private[graft] object CypherStatements {

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  private def label(n: FlowNode): String = n.tpe match {
    case FlowNodeType.Table => "Table"
    case FlowNodeType.View => "View"
    case FlowNodeType.Query => "Query"
    case _ => "Plan"
  }

  /** Downstream Query/View uids reachable from `fromId` over the compact
    * edge set — the reference stamps these on every relationship so "which
    * queries consume this edge" is answerable without traversal
    * (Neo4jAuraSink.scala:176-199). Traversal STOPS at Query/View nodes:
    * a view's consumers belong to the view's own edges, not its inputs'. */
  private def dstNodeIds(
      fromId: String,
      nodeById: Map[String, FlowNode],
      edgeMap: Map[String, Seq[String]]): Seq[String] = {
    val buf = mutable.ArrayBuffer[String]()
    // visited set: without it the frontier counts PATHS, not nodes, and a
    // chain of diamonds (shared subplans) makes the walk exponential; it
    // also bounds the walk, so no hop cap truncates a long plan chain
    val visited = mutable.HashSet[String](fromId)
    var frontier: Seq[String] = Seq(fromId)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(edgeMap.getOrElse(_, Nil)).distinct
        .filterNot(visited.contains).flatMap(nodeById.get).flatMap { n =>
          visited += n.uniqueId
          n.tpe match {
            case FlowNodeType.Query | FlowNodeType.View => buf += n.uniqueId; None
            case _ => Some(n.uniqueId)
          }
        }
    }
    buf.distinct.toSeq
  }

  /** One uniqueness constraint per label, like the reference
    * (Neo4jAuraSink.scala:124-141); uids here are deterministic, so they
    * serve as the unique key for plan nodes too. */
  def constraints: Seq[String] = Seq("Table", "View", "Query", "Plan").map { l =>
    s"CREATE CONSTRAINT unique_${l.toLowerCase(java.util.Locale.ROOT)}_node_uid " +
      s"IF NOT EXISTS FOR (n:$l) REQUIRE n.uid IS UNIQUE;"
  }

  /** Idempotent node + relationship MERGEs for one graph increment. */
  def merges(nodes: Seq[FlowNode], edges: Seq[FlowEdge]): Seq[String] = {
    val nodeStmts = nodes.map { n =>
      s"MERGE (n:Node {uid: '${esc(n.uniqueId)}'}) " +
        s"SET n:${label(n)}, n.ident = '${esc(n.ident)}', n.cached = ${n.isCached}, " +
        s"n.schema = '${esc(n.schemaDDL)}';"
    }
    val nodeById = nodes.map(n => n.uniqueId -> n).toMap
    val compact = edges.map(e => (e.fromId, e.toId)).distinct
    val edgeMap = compact.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val edgeStmts = edges.map { e =>
      val props = Seq(
        e.fromIdx.map(i => s"fromIdx: $i"),
        e.toIdx.map(i => s"toIdx: $i")).flatten.mkString(", ")
      val dsts = dstNodeIds(e.fromId, nodeById, edgeMap)
        .map(id => s"'${esc(id)}'").mkString("[", ", ", "]")
      s"MATCH (a:Node {uid: '${esc(e.fromId)}'}), (b:Node {uid: '${esc(e.toId)}'}) " +
        s"MERGE (a)-[r:transformInto {$props}]->(b) " +
        // accumulate per-query consumers across appends (reference
        // Neo4jAuraSink.scala:201-209): first load sets, re-loads append
        s"ON CREATE SET r.dstNodeIds = $dsts " +
        s"ON MATCH SET r.dstNodeIds = r.dstNodeIds + $dsts;"
    }
    nodeStmts ++ edgeStmts
  }
}

/** Cypher-statement sink: emits the same MERGE/CONSTRAINT statement stream
  * the reference sends to Neo4j Aura (Neo4jAuraSink.scala:124-214), written
  * to a .cypher file instead of a bolt connection — this container has no
  * network egress. Point any Neo4j at the file to load the graph. */
case class CypherFileSink() extends FlowBatchSink with FlowStreamSink with FlowFormat {
  import SinkIO._

  override def toGraphString(nodes: Seq[FlowNode], edges: Seq[FlowEdge]): String =
    (CypherStatements.constraints ++ CypherStatements.merges(nodes, edges))
      .mkString("\n") + "\n"

  override def write(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = {
    val dir = prepareDir(options)
    val prefix = options.getOrElse("filenamePrefix", "sqlflow")
    writeFile(dir, s"$prefix.cypher", toGraphString(nodes, edges))
  }

  override def append(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = {
    val base = options.getOrElse("outputDirPath",
      throw new IllegalArgumentException("`outputDirPath` option is required"))
    val dir = new File(base)
    dir.mkdirs()
    val prefix = options.getOrElse("filenamePrefix", "sqlflow")
    val f = Paths.get(dir.toString, s"${prefix}_append.cypher")
    Files.write(f, toGraphString(nodes, edges).getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

/** How [[Neo4jAuraSink]] delivers Cypher: one transaction per batch. The
  * sink stays transport-agnostic so the same statement stream runs against
  * a live bolt endpoint in production and a file (or a recording stub in
  * tests) where no network exists. */
trait CypherTransport extends AutoCloseable {
  /** Run one batch of statements atomically (one transaction). */
  def runBatch(statements: Seq[String]): Unit
  /** Whether the target already holds data — backs the reference's
    * batch-write contract ("Database should be empty" unless overwrite).
    * Transports that cannot answer report false (the check degrades to
    * a no-op rather than blocking delivery). */
  def databaseNonEmpty: Boolean = false
  /** Clear the target (the reference's resetNeo4jDbState); the default
    * sends the delete-everything statement through the normal batch path,
    * which is right for bolt and keeps a file transport a faithful
    * replay log (cypher-shell replays the reset before the new graph). */
  def reset(): Unit = runBatch(Seq("MATCH (n) DETACH DELETE n;"))
  override def close(): Unit = ()
}

/** Appends each batch to a .cypher file — exactly the statements a bolt
  * transport would send, separated by transaction markers so the batching
  * is auditable. Loadable as-is by cypher-shell. */
class FileCypherTransport(path: java.nio.file.Path) extends CypherTransport {
  /** The file IS the database surrogate: non-empty file = non-empty db. */
  override def databaseNonEmpty: Boolean =
    Files.exists(path) && Files.size(path) > 0
  override def runBatch(statements: Seq[String]): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val payload = statements.mkString("", "\n", "\n")
    Files.write(path, (s":begin\n$payload:commit\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

/** Bolt transport over the public neo4j-java-driver, loaded reflectively:
  * the driver jar is an OPTIONAL runtime dependency (this build cannot
  * resolve it — zero egress), so nothing here links against it at compile
  * time. Add `org.neo4j.driver:neo4j-java-driver` to the cluster classpath
  * and this transport lights up; without it, construction fails with a
  * clear message instead of a NoClassDefFoundError mid-query. */
class BoltCypherTransport(uri: String, user: String, passwd: String) extends CypherTransport {
  private val (driver, sessionM, driverCloseM) =
    try {
      val graphDb = Class.forName("org.neo4j.driver.GraphDatabase")
      val authTokens = Class.forName("org.neo4j.driver.AuthTokens")
      val authToken = Class.forName("org.neo4j.driver.AuthToken")
      val driverCls = Class.forName("org.neo4j.driver.Driver")
      val token = authTokens.getMethod("basic", classOf[String], classOf[String])
        .invoke(null, user, passwd)
      val d = graphDb.getMethod("driver", classOf[String], authToken).invoke(null, uri, token)
      (d, driverCls.getMethod("session"), driverCls.getMethod("close"))
    } catch {
      case _: ClassNotFoundException =>
        throw new IllegalStateException(
          "neo4j-java-driver not on the classpath: add " +
            "org.neo4j.driver:neo4j-java-driver to use the bolt transport, or " +
            "use a file: URI to emit the statement stream to disk")
    }

  private def method(obj: AnyRef, name: String, sig: Class[_]*): java.lang.reflect.Method = {
    // resolve on the object's own type hierarchy (the declaring interface
    // moved between driver 4.x and 5.x); impl classes may be package-
    // private, so unlock the handle for invocation
    val m = obj.getClass.getMethod(name, sig: _*)
    m.setAccessible(true)
    m
  }

  override def runBatch(statements: Seq[String]): Unit = {
    val session = sessionM.invoke(driver)
    try {
      // ONE explicit transaction per batch — the contract every other
      // transport honors (FileCypherTransport's :begin/:commit) and the
      // reason batchSize bounds a failed replay: per-statement auto-commit
      // (Session.run) would leave a half-applied batch on a mid-batch
      // failure
      val tx = method(session, "beginTransaction").invoke(session)
      try {
        statements.foreach { st =>
          val res = method(tx, "run", classOf[String]).invoke(tx, st)
          // drain so server-side errors surface HERE, inside the tx,
          // not at session close after later statements were sent
          method(res, "consume").invoke(res)
        }
        method(tx, "commit").invoke(tx)
      } catch {
        case e: Throwable =>
          try method(tx, "rollback").invoke(tx) catch { case _: Throwable => }
          throw e
      } finally method(tx, "close").invoke(tx)
    } finally method(session, "close").invoke(session)
  }

  /** `MATCH (n) RETURN 1 LIMIT 1` and probe Result.hasNext — the
    * reference's isDatabaseEmpty check (Neo4jAuraSink.scala:216-218),
    * via the same reflective surface as runBatch. */
  override def databaseNonEmpty: Boolean = {
    val session = sessionM.invoke(driver)
    try {
      val res = method(session, "run", classOf[String])
        .invoke(session, "MATCH (n) RETURN 1 LIMIT 1")
      method(res, "hasNext").invoke(res).asInstanceOf[Boolean]
    } finally method(session, "close").invoke(session)
  }

  override def close(): Unit = { driverCloseM.invoke(driver); () }
}

/** Neo4j Aura sink with the reference's signature
  * (Neo4jAuraSink.scala:118-240): uniqueness constraints, then idempotent
  * MERGE batches, each batch one transaction. Transport is resolved from
  * the URI — `neo4j://`/`bolt://` opens the reflective bolt driver,
  * `file:<path>` appends the identical statement stream to disk (the
  * no-egress mode this container runs, and a dry-run/audit mode anywhere).
  * Tests inject a recording transport via `openTransport`.
  *
  * `reuseTransport = true` pins ONE connection for the sink's lifetime and
  * sends the constraints once — the listener deployment shape, where a
  * per-query reconnect (driver handshake + constraint round-trip) would
  * dominate small lineage appends. Call `close()` when done. The default
  * (fresh transport + constraints per delivery) is reference parity and
  * keeps long-lived listener sessions free of stale pinned connections. */
case class Neo4jAuraSink(uri: String, user: String, passwd: String,
    reuseTransport: Boolean = false)
  extends FlowBatchSink with FlowStreamSink with AutoCloseable {

  /** Statements per transaction: bounds bolt round-trip payloads and keeps
    * any one failed transaction's replay small. */
  val batchSize: Int = 128

  protected def openTransport(): CypherTransport =
    if (uri.startsWith("file:")) {
      new FileCypherTransport(java.nio.file.Paths.get(uri.stripPrefix("file:")))
    } else new BoltCypherTransport(uri, user, passwd)

  /** (transport, constraints-already-sent) under `reuseTransport`. */
  private var cached: Option[CypherTransport] = None

  /** Lease a transport for one delivery: caller runs `use`, and the
    * transport is closed after — unless it is the cached one. */
  private def withTransport[A](use: CypherTransport => A): A = synchronized {
    if (reuseTransport) {
      val t = cached.getOrElse { val t = openTransport(); cached = Some(t); t }
      try use(t)
      catch { case e: Throwable =>
        // a failed delivery may have killed the pinned connection — drop it
        // (and the constraints-sent mark) so the next lease reconnects fresh
        // instead of replaying every later delivery into a dead transport
        try t.close() catch { case _: Throwable => }
        cached = None
        constraintsSent = false
        throw e
      }
    } else {
      val t = openTransport()
      try use(t) finally t.close()
    }
  }

  private var constraintsSent = false

  private def deliver(t: CypherTransport, nodes: Seq[FlowNode], edges: Seq[FlowEdge]): Unit = {
    // constraints re-sent per delivery is REFERENCE PARITY (its sink
    // re-creates constraints on every save; IF NOT EXISTS makes them
    // idempotent); under reuseTransport they go once per connection
    if (!reuseTransport || !constraintsSent) {
      t.runBatch(CypherStatements.constraints)
      constraintsSent = true
    }
    CypherStatements.merges(nodes, edges).grouped(batchSize).foreach(t.runBatch)
  }

  override def close(): Unit = synchronized {
    cached.foreach(_.close())
    cached = None
    constraintsSent = false
  }

  /** Batch write honors the reference's contract (Neo4jAuraSink.scala:
    * 219-240): the target must be EMPTY unless `options("overwrite")` is
    * set, in which case it is reset first. Delivery itself diverges
    * deliberately — idempotent MERGEs (the CypherFileSink stream) instead
    * of the reference's CREATEs, so a retried write cannot violate the
    * uniqueness constraints it just installed. */
  override def write(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = withTransport { t =>
    if (options.getOrElse("overwrite", "false").toBoolean) t.reset()
    else if (t.databaseNonEmpty) {
      throw new IllegalStateException(
        "Database should be empty; pass overwrite=true to reset it first")
    }
    deliver(t, nodes, edges)
  }

  /** Listener mode: MERGE + dstNodeIds accumulation make appends
    * idempotent-per-edge and additive across queries, so the stream path
    * is the same delivery as the batch path — and, per the reference, no
    * empty-database check (appending to existing lineage is the point). */
  override def append(nodes: Seq[FlowNode], edges: Seq[FlowEdge],
      options: Map[String, String]): Unit = withTransport { t =>
    deliver(t, nodes, edges)
  }
}
