package graft

/** Engine configuration mirroring the reference's env-based singleton
  * (config/config.go:7-30, envconfig tags) — same env names, same
  * defaults; parsed from an explicit map so tests don't mutate the
  * process env.
  */
final case class GraftConfig(
    dbAddress: String,
    dbSourceName: String,
    dbUser: String,
    dbPassword: String,
    dbPort: Int,
    dbLog: Boolean,
    kafkaAddress: String,
    reclaim: Boolean,
    server: String,
    db: String,
    tables: Seq[String],
    groupId: String,
    republish: Boolean,
    republishLimit: Int,
    connectorName: String,
    debeziumAddr: String,
    debeziumPort: String,
    autoOffset: String,
    activeScheme: Boolean,
    replaceAllScheme: Boolean,
    withTimezone: Boolean,
    timezoneShiftHours: Int) {

  /** Connect REST base URL (client/debezium.go builds addr:port paths). */
  def apiAddress: String = s"http://$debeziumAddr:$debeziumPort"
}

object GraftConfig {
  /** Env names and defaults follow config/config.go verbatim: REPUBLISH
    * default true (:20), REPUBLISH_LIMIT 3 (:21), AUTO_OFFSET latest
    * (:25), RECLAIM false (:15), REPLACE_ALL_SCHEME **true** (:27),
    * ACTIVE_SCHEME false (:26). The reference reads `TIMEZONE` (:29) but
    * hardcodes ±7h in the decoders (main.go:272,296); here the knob is
    * actually honored, defaulting to the same 7.
    *
    * A set integer or boolean that does not parse, a REPUBLISH_LIMIT below
    * 1 (which would send every failure straight to the DLQ) and a DBPORT
    * outside 1..65535 fail with an error naming the variable and value.
    */
  def fromEnv(env: Map[String, String]): GraftConfig = {
    def knob[T](name: String, default: T, what: String)(parse: String => Option[T]): T =
      env.get(name).fold(default)(v => parse(v).getOrElse(
        throw new IllegalArgumentException(s"""$name="$v" is not $what""")))
    def bool(name: String, default: Boolean) =
      knob(name, default, "a boolean (true/false)")(_.toBooleanOption)
    GraftConfig(
      dbAddress = env.getOrElse("DBADDRESS", "localhost"),
      dbSourceName = env.getOrElse("DBSOURCE", "master_etl"),
      dbUser = env.getOrElse("DBUSER", "etl_master"),
      dbPassword = env.getOrElse("DBPASSWORD", ""),
      dbPort = knob("DBPORT", 3306, "a port (1-65535)")(
        _.toIntOption.filter(p => p >= 1 && p <= 65535)),
      dbLog = bool("DB_LOG", false),
      kafkaAddress = env.getOrElse("KAFKA", "localhost:9092"),
      reclaim = bool("RECLAIM", false),
      server = env.getOrElse("SERVER", "dbserver_name"),
      db = env.getOrElse("DBNAME", "db_name"),
      tables = env.getOrElse("TABLE", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      groupId = env.getOrElse("GROUP", "name-group"),
      republish = bool("REPUBLISH", true),
      republishLimit = knob("REPUBLISH_LIMIT", 3, "a limit of at least 1")(
        _.toIntOption.filter(_ >= 1)),
      connectorName = env.getOrElse("CONNECTOR", "etl-connector-name"),
      debeziumAddr = env.getOrElse("DEBEZIUM_ADDR", "localhost"),
      debeziumPort = env.getOrElse("DEBEZIUM_PORT", "8083"),
      autoOffset = env.getOrElse("AUTO_OFFSET", "latest"),
      activeScheme = bool("ACTIVE_SCHEME", false),
      replaceAllScheme = bool("REPLACE_ALL_SCHEME", true),
      withTimezone = bool("WITH_TIMEZONE", false),
      timezoneShiftHours = knob("TIMEZONE", 7, "an integer")(_.toIntOption))
  }
}
