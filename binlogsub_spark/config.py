"""Engine configuration: schema scoping + column projection.

Replaces the reference's ini config (/root/reference/binlogsub.ini:16-25,
loaded by Config::LoadSchemaConf /root/reference/config.cc:77-161): a
POSIX-regex scope over (database, table) plus an ordinal->name column map.
Matching semantics mirror Schema::CheckSchema (/root/reference/schema.cc:36-43)
via Spark's ``rlike`` (F7 in SURVEY.md §2.6); the filter is applied BEFORE
the decode stage, reproducing the reference's manual predicate pushdown
(/root/reference/packet.cc:201-205 skips row decode for unmatched tables).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ColumnSpec:
    """Ordinal->name mapping, as in [schema_column_N] sections
    (/root/reference/config.cc:138-155; README.md:22 stresses the 0-based
    ordinal)."""

    name: str
    index: int


@dataclass(frozen=True)
class SchemaScope:
    """Which (db, table) streams this engine ingests, and which columns."""

    db_regex: str = "^test$"
    table_regex: str = "^transcripts$"
    columns: tuple[ColumnSpec, ...] = field(
        default_factory=lambda: tuple(
            ColumnSpec(n, i)
            for i, n in enumerate(
                ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )
        )
    )

    @property
    def column_names(self) -> list[str]:
        return [c.name for c in sorted(self.columns, key=lambda c: c.index)]


@dataclass(frozen=True)
class MysqlSource:
    """The [mysql] ini section (connection identity + secret).

    The sandbox engine never opens a socket — its sources are binlog FILES
    and tables — but the loader preserves the reference's full connection
    config surface so an existing ``binlogsub.ini`` parses unchanged, and
    the DES-encrypted password decodes exactly as mysqlProcess.cc:23-37
    does (F8)."""

    host: str = ""
    port: int = 3306
    username: str = ""
    password: str = ""
    server_id: int = 0


@dataclass(frozen=True)
class EngineConfig:
    scope: SchemaScope = field(default_factory=SchemaScope)
    # Salt fan-out for hot-key mitigation before the merge-apply stage.
    # 0/1 disables salting. At cluster scale this should be ~#cores in the
    # stage divided by expected distinct hot keys.
    skew_salt: int = 8
    # Auto-compact after this many commits: a long-running stream otherwise
    # accumulates one commit dir per micro-batch and the read-side union
    # grows without bound. 0 disables.
    compact_every: int = 64


@dataclass(frozen=True)
class IniConfig:
    """A parsed ``binlogsub.ini`` in the reference's dialect."""

    mysql: MysqlSource
    scopes: tuple[SchemaScope, ...]
    raw: dict  # section -> {key: value}, every non-schema section

    @property
    def engine(self) -> EngineConfig:
        """EngineConfig for the FIRST schema scope (one pipeline per
        scope, as the reference runs one Schema vector per process)."""
        return EngineConfig(scope=self.scopes[0]) if self.scopes else EngineConfig()


def load_ini(path: str) -> IniConfig:
    """Parse the reference's ini dialect (config.cc:27-161) — NOT
    configparser, whose rules differ in ways that matter here:

    - ``Config::Trim`` (config.cc:14-25) deletes EVERY space in the line,
      so ``column_name = id `` yields ``id`` and values can never contain
      spaces — mirrored exactly;
    - a ``[schema]`` section opens a new scope once BOTH ``database`` and
      ``table`` have been seen (config.cc:115-133); ``[schema_column_N]``
      sections attach ordinal->name columns to the most recent scope once
      both keys are present (config.cc:136-155);
    - ``#`` comments and blank lines are skipped; duplicate keys append
      (the reference stores a vector of kv maps), last one wins here.

    If ``password_need_decode`` is non-zero, the password is
    ``base64(DES_ECB(...))`` and is decoded with the reference's
    compiled-in key (F8, util.cc:27-141 / mysqlProcess.cc:23-37).
    """
    from binlogsub_spark.secrets import decode_password

    raw: dict[str, dict[str, str]] = {}
    scopes: list[dict] = []  # {"db":…, "table":…, "cols": [ColumnSpec…]}
    section = ""
    pend_db = pend_table = pend_cname = pend_cidx = None
    with open(path, "r", encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\r\n")
            if not line or line[0] in "#\r\n":
                continue
            line = line.replace(" ", "")  # Trim: delete ALL spaces
            if not line:
                continue
            if line[0] == "[" and line[-1] == "]":
                section = line[1:-1]
                if section == "schema":
                    pend_db = pend_table = None
                elif section.startswith("schema_column_"):
                    pend_cname = pend_cidx = None
                continue
            eq = line.find("=")
            if eq < 0:
                continue
            key, value = line[:eq], line[eq + 1 :]
            if section == "schema":
                if key == "database":
                    pend_db = value
                elif key == "table":
                    pend_table = value
                if pend_db and pend_table:
                    scopes.append({"db": pend_db, "table": pend_table, "cols": []})
                    pend_db = pend_table = None
            elif section.startswith("schema_column_"):
                if key == "column_name":
                    pend_cname = value
                elif key == "column_index":
                    pend_cidx = value
                if pend_cname and pend_cidx is not None and scopes:
                    scopes[-1]["cols"].append(
                        ColumnSpec(pend_cname, int(pend_cidx))
                    )
                    pend_cname = pend_cidx = None
            else:
                raw.setdefault(section, {})[key] = value

    m = raw.get("mysql", {})
    password = m.get("password", "")
    if password and int(m.get("password_need_decode", "0") or 0):
        password = decode_password(password)
    mysql = MysqlSource(
        host=m.get("mysql_ip", ""),
        port=int(m.get("mysql_port", "3306") or 3306),
        username=m.get("username", ""),
        password=password,
        server_id=int(m.get("mysql_serverid", "0") or 0),
    )
    scope_objs = tuple(
        SchemaScope(
            db_regex=s["db"],
            table_regex=s["table"],
            columns=tuple(s["cols"]) if s["cols"] else SchemaScope().columns,
        )
        for s in scopes
    )
    return IniConfig(mysql=mysql, scopes=scope_objs, raw=raw)
