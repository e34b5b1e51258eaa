package graft.cdc

/** The reference's CLI surface (cli.yml + src/main.rs:45-63) as a typed
  * config object:
  *
  *   --table            name of the table whose changefeed is watched
  *   --queue            message queue for row changes
  *   --cursor-store     where cursor values are stored
  *   --cursor-frequency how often resolved cursors are emitted (e.g. 10s)
  *
  * The reference's `rabbitmq` / `cockroachdb` values name network
  * services; this offline build maps the same slots onto its compiled
  * impls via `scheme:arg` specs — `inmemory:<name>` or `file:<path>` —
  * so a deployment swaps impls by flag, not by code, exactly like the
  * reference's QueueType/CursorStoreType dispatch (src/main.rs:66-85).
  */
final case class GraftConfig(
    table: String,
    queue: String = "inmemory:default",
    cursorStore: String = "inmemory:default",
    cursorFrequency: String = "10s",
    logDir: Option[String] = None,
    checkpointDir: Option[String] = None,
    metricsPort: Int = 0,
    once: Boolean = false,
    database: Option[String] = None,
    deadLetterQueue: Option[String] = None) {

  /** Cursor cadence in microseconds (reference `resolved = '10s'`). */
  def cursorFrequencyUs: Long = GraftConfig.parseDurationUs(cursorFrequency)

  private def split(spec: String, what: String): (String, String) =
    spec.split(":", 2) match {
      case Array(scheme, arg) => (scheme, arg)
      case _ => throw new IllegalArgumentException(
        s"$what spec '$spec' must be scheme:arg (inmemory:<name> | file:<path>)")
    }

  /** `--table` accepts the reference's single table or a comma list —
    * the multi-table changefeed statement (`CHANGEFEED FOR t1, t2`)
    * takes the list verbatim and every row carries its table tag
    * (reference model.rs:60-73). */
  def tables: Seq[String] = table.split(",").map(_.trim).filter(_.nonEmpty)

  /** Consolidated multi-table routing — a `{table}` placeholder in the
    * --queue spec publishes each change row to the queue named after
    * ITS table tag (e.g. `--queue amqp://host:5672/cf-{table}`). The
    * reference binds one process per table and names the queue after
    * it (cli.yml, queues.rs:17-30); the router is the one-process
    * generalization, the streaming twin of cdc_table_router (#156).
    * Queue instances resolve lazily per table on the executors. */
  def newTableRouter(): Option[String => MessageQueue] =
    if (queue.contains("{table}")) {
      val self = this
      Some((t: String) => self.copy(queue = self.queue.replace("{table}", t))
        .newQueue())
    } else None

  def newQueue(): MessageQueue = split(resolvedQueueSpec, "queue") match {
    case ("inmemory", name) => new InMemoryQueue(name)
    case ("changefeed", dir) => new ChangefeedLogQueue(dir)
    // amqp://[user:pass@]host:port/queue — the reference's RabbitMQ
    // path (AMQP_ADDR env or --queue flag) on the built-in 0-9-1
    // publisher client; connects lazily on first publish
    case ("amqp", _) => new AmqpQueue(resolvedQueueSpec)
    case (scheme, _) => throw new IllegalArgumentException(
      s"unsupported queue scheme '$scheme' (this build compiles: inmemory, " +
        "changefeed, amqp)")
  }

  /** A `{table}` placeholder resolved to the FIRST table — only used
    * when newQueue() is called on a routed config (the router
    * supersedes it for every actual publish; the instance exists so
    * non-publish plumbing has a queue to hold). */
  private def resolvedQueueSpec: String =
    if (queue.contains("{table}")) queue.replace("{table}", tables.head)
    else queue

  /** Poison-payload destination (--dead-letter-queue, same scheme:arg
    * grammar as --queue); None = forward bytes verbatim like the
    * reference. The `changefeed:` scheme is rejected HERE, at config
    * time: ChangefeedLogQueue only supports whole-batch DSv2 writes,
    * and the DLQ path publishes per record — accepting it would pass
    * startup validation and then fail the stream on the first
    * malformed row. */
  def newDeadLetterQueue(): Option[MessageQueue] =
    deadLetterQueue.map { spec =>
      require(!spec.startsWith("changefeed:"),
        s"dead-letter-queue spec '$spec': the changefeed: scheme is " +
          "batch-write-only and cannot receive per-record dead letters " +
          "(use inmemory: or amqp:)")
      copy(queue = spec).newQueue()
    }

  /** The JDBC URL behind a database-backed cursor-store spec, if the
    * spec names one: `jdbc:<url-rest>` carries it inline; the
    * reference's bare `cockroachdb` value reads it from
    * --database/DATABASE_URL (main.rs:57-63 — the cursor store lives
    * in the same database the changefeed is read from). */
  private def cursorStoreJdbcUrl: Option[String] = cursorStore match {
    case "cockroachdb" => Some(database.getOrElse(
      throw new IllegalArgumentException(
        "--cursor-store cockroachdb needs --database / a jdbc: DATABASE_URL " +
          "(the reference reads the cursor store from the changefeed database)")))
    case s if s.startsWith("jdbc:") => Some(s)
    case _ => None
  }

  def newCursorStore(): CursorStore = cursorStoreJdbcUrl match {
    // the reference's CrdbCursorStore under the reference's key
    // (cursors.rs:13-58; key = 'key')
    case Some(url) => JdbcCursorStore.forUrl(url)
    case None => split(cursorStore, "cursor-store") match {
      case ("inmemory", key) => new InMemoryCursorStore(key)
      case ("file", path) => new FileCursorStore(path)
      case (scheme, _) => throw new IllegalArgumentException(
        s"unsupported cursor-store scheme '$scheme' (this build compiles: " +
          "inmemory, file, jdbc:<url>, cockroachdb)")
    }
  }

  /** The changefeed tail's OWN cursor ("ingested up to", distinct from
    * the publish store's "published up to" — see GraftMain's
    * split-cursor note). With a database-backed publish store the tail
    * cursor lives in the SAME cursor_store table under key
    * `tail:<table>` (the reference's one-database shape, cursors.rs);
    * otherwise it falls back to an atomic file beside the log. */
  def newTailCursorStore(logDir: String): CursorStore =
    cursorStoreJdbcUrl match {
      case Some(url) => JdbcCursorStore.forUrl(url, key = s"tail:$table")
      case None => new FileCursorStore(s"$logDir/_tail_cursor")
    }
}

object GraftConfig {

  /** `10s` / `500ms` / `2m` / `1h` → microseconds. */
  def parseDurationUs(s: String): Long = {
    val m = raw"(\d+)(ms|s|m|h)".r.pattern.matcher(s.trim)
    require(m.matches(), s"bad duration '$s' (want e.g. 10s, 500ms, 2m, 1h)")
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n * 1000L
      case "s" => n * 1000000L
      case "m" => n * 60000000L
      case "h" => n * 3600000000L
    }
  }

  /** Parse `--table events --queue inmemory:q ...` exactly like the
    * reference's clap matcher (unknown flags rejected; --table required,
    * the rest defaulted). Beyond the reference's four flags, the Spark
    * app adds: `--log-dir` (the changefeed log the DSv2 source reads),
    * `--checkpoint-dir`, `--metrics-port` (0 = any free port), and
    * `--once` (drain-and-exit via Trigger.AvailableNow — the reference
    * relay runs continuously; this is the batch/backfill mode). */
  def fromArgs(args: Seq[String]): GraftConfig = fromArgs(args, sys.env)

  /** Precedence, mirroring the reference (src/main.rs:45-63): an
    * explicit flag wins; otherwise the matching environment variable
    * (`AMQP_ADDR` → --queue, `DATABASE_URL` → --cursor-store,
    * `PROMETHEUS_ADDR` → --metrics-port, taking the port of a
    * `host:port` address); otherwise the compiled default. The env map
    * is injectable so the precedence is property-testable without
    * mutating the process environment. */
  def fromArgs(args: Seq[String], env: Map[String, String]): GraftConfig = {
    val kv = args.grouped(2).map {
      case Seq(flag, value) if flag.startsWith("--") => flag.drop(2) -> value
      case other => throw new IllegalArgumentException(
        s"expected --flag value pairs, got: ${other.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("table", "queue", "cursor-store",
      "cursor-frequency", "log-dir", "checkpoint-dir", "metrics-port", "once",
      "database", "dead-letter-queue")
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(", ")}")
    var cfg = GraftConfig(table = kv.getOrElse("table",
      throw new IllegalArgumentException("--table is required")))
    for (q <- kv.get("queue").orElse(env.get("AMQP_ADDR")))
      cfg = cfg.copy(queue = q)
    // a jdbc: DATABASE_URL names the changefeed database (mapped to
    // `database` below) — feeding it into the scheme:arg cursor-store
    // slot would crash newCursorStore() at startup
    for (s <- kv.get("cursor-store").orElse(env.get("DATABASE_URL")
        .filterNot(_.startsWith("jdbc:"))))
      cfg = cfg.copy(cursorStore = s)
    for (f <- kv.get("cursor-frequency")) cfg = cfg.copy(cursorFrequency = f)
    for (d <- kv.get("log-dir")) cfg = cfg.copy(logDir = Some(d))
    for (d <- kv.get("checkpoint-dir")) cfg = cfg.copy(checkpointDir = Some(d))
    for (p <- kv.get("metrics-port")
        .orElse(env.get("PROMETHEUS_ADDR").map(portOf)))
      cfg = cfg.copy(metricsPort = p.toInt)
    for (o <- kv.get("once")) cfg = cfg.copy(once = o.toBoolean)
    // the reference's DATABASE_URL names the database the changefeed is
    // read from (main.rs:57-60) — and the cursor store lives in the
    // same database there, hence the dual fallback above
    for (d <- kv.get("database").orElse(env.get("DATABASE_URL")
        .filter(_.startsWith("jdbc:"))))
      cfg = cfg.copy(database = Some(d))
    for (d <- kv.get("dead-letter-queue"))
      cfg = cfg.copy(deadLetterQueue = Some(d))
    cfg
  }

  /** `0.0.0.0:8000` (the reference's PROMETHEUS_ADDR shape) → `8000`;
    * a bare port string passes through. */
  private def portOf(addr: String): String =
    addr.lastIndexOf(':') match {
      case -1 => addr
      case i => addr.substring(i + 1)
    }
}
