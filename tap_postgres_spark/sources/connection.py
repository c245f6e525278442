"""Connection-parameter assembly: tap config → libpq DSN / JDBC parts.

The reference centralizes the mapping from tap config to connection
parameters (connection_parameters.py:24-202) so the SQL engine, the
replication client, and the SSH tunnel all consume one object.  This is
the Spark twin: the same config keys produce

- a libpq key=value DSN for the walsender reader
  (:mod:`.replication` / psycopg2),
- URL + properties for ``spark.read.jdbc`` (:mod:`.jdbc` consumes the
  same keys; :func:`ConnectionParameters.as_jdbc` is the object form),
- a rebound copy for SSH-tunnelled connections
  (``with_host_and_port`` — connection_parameters.py:106-125).

SSL materialization follows the reference's ``_filepath_or_certificate``
(connection_parameters.py:170-202): each ssl option accepts EITHER a
filepath OR the raw PEM text; raw text is written under
``ssl_storage_directory`` (private keys chmod 0600 — libpq refuses
group/world-readable keys).

The SSH tunnel itself (reference tap.py:45-120 re-implements
sshtunnel on paramiko) is not opened in-process: :func:`open_ssh_tunnel`
validates the ``ssh_tunnel`` config and then raises, naming the
``ssh -L`` local forward to run instead; ``host``/``port`` then point
at the tunnel's local end.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace
from pathlib import Path
from typing import Any, Mapping, NoReturn
from urllib.parse import parse_qs, quote, unquote, urlsplit

APPLICATION_NAME = "tap_postgres_spark"


def _dsn_escape(v: str) -> str:
    """libpq DSN value quoting: wrap when it has spaces/quotes/empties,
    backslash-escape embedded quotes and backslashes."""
    v = str(v)
    if v and not any(c in v for c in " '\\"):
        return v
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _filepath_or_certificate(
    value: str, alternative_path: Path, *, restrict_permissions: bool = False
) -> str:
    """Reference connection_parameters.py:170-202: pass filepaths
    through; write raw PEM text to ``alternative_path`` (0600 for keys)."""
    if os.path.isfile(value):
        return value
    alternative_path.parent.mkdir(parents=True, exist_ok=True)
    alternative_path.write_bytes(value.encode("utf-8"))
    if restrict_permissions:
        os.chmod(alternative_path, 0o600)
    return str(alternative_path)


def build_ssl_options(config: Mapping[str, Any]) -> dict[str, str]:
    """tap config → libpq ssl options (connection_parameters.py:129-168).

    ``ssl_enable`` verifies the server to the client (sslmode +
    sslrootcert for verify-ca/verify-full);
    ``ssl_client_certificate_enable`` verifies the client to the server
    (sslcert + sslkey, key restricted to 0600)."""
    options: dict[str, str] = {"application_name": APPLICATION_NAME}
    storage = Path(config.get("ssl_storage_directory", ".secrets"))
    if config.get("ssl_enable"):
        ssl_mode = config["ssl_mode"]
        options["sslmode"] = ssl_mode
        if ssl_mode in ("verify-ca", "verify-full") and config.get(
            "ssl_certificate_authority"
        ):
            options["sslrootcert"] = _filepath_or_certificate(
                config["ssl_certificate_authority"], storage / "root.crt"
            )
    if config.get("ssl_client_certificate_enable"):
        options["sslcert"] = _filepath_or_certificate(
            config["ssl_client_certificate"], storage / "cert.crt"
        )
        options["sslkey"] = _filepath_or_certificate(
            config["ssl_client_private_key"], storage / "pkey.key",
            restrict_permissions=True,
        )
    return options


@dataclass(frozen=True)
class ConnectionParameters:
    """Postgres connection parameters (connection_parameters.py:24-48)."""

    host: str
    port: int
    database: str
    user: str
    password: str
    options: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_tap_config(cls, config: Mapping[str, Any]) -> "ConnectionParameters":
        """Either explicit host/port/database/user/password keys or a
        ``sqlalchemy_url`` (percent-encoded components), plus the ssl
        option block (connection_parameters.py:60-101)."""
        if url := config.get("sqlalchemy_url"):
            # stdlib parse (no sqlalchemy dependency): scheme://u:p@h:p/db?q
            parts = urlsplit(url)
            if not (parts.hostname and parts.path.lstrip("/") and parts.username
                    and parts.password is not None):
                raise ValueError(
                    "sqlalchemy_url must include host, database, username, "
                    "and password"
                )
            options = build_ssl_options(config)
            for k, vs in parse_qs(parts.query).items():
                options.setdefault(k, vs[-1])
            return cls(
                host=parts.hostname,
                port=int(parts.port or 5432),
                database=unquote(parts.path.lstrip("/")),
                user=unquote(parts.username),
                password=unquote(parts.password),
                options=options,
            )
        return cls(
            host=config["host"],
            port=int(config.get("port", 5432)),
            database=config["database"],
            user=config["user"],
            password=config["password"],
            options=build_ssl_options(config),
        )

    def with_host_and_port(self, *, host: str, port: int) -> "ConnectionParameters":
        """Rebind through an SSH tunnel's local end
        (connection_parameters.py:106-125)."""
        return replace(self, host=host, port=port)

    def as_libpq_dsn(self) -> str:
        """key=value DSN for psycopg2 / the walsender reader."""
        kv = {
            "host": self.host,
            "port": str(self.port),
            "dbname": self.database,
            "user": self.user,
            "password": self.password,
            **self.options,
        }
        return " ".join(f"{k}={_dsn_escape(v)}" for k, v in kv.items())

    def as_jdbc(self) -> tuple[str, dict[str, str]]:
        """(url, properties) for ``spark.read.jdbc`` — the Spark-native
        render; keys match sources/jdbc.py's option names."""
        url = f"jdbc:postgresql://{self.host}:{self.port}/{quote(self.database)}"
        props = {
            "user": self.user,
            "password": self.password,
            "driver": "org.postgresql.Driver",
            **self.options,
        }
        return url, props


def open_ssh_tunnel(
    config: Mapping[str, Any], params: ConnectionParameters
) -> NoReturn:
    """Validate the ``ssh_tunnel`` config block, then raise
    ``NotImplementedError``: the engine opens no SSH tunnel itself.  Run
    a local forward outside the process and point the tap's
    ``host``/``port`` at its local end.  Misconfiguration fails first
    with ``ValueError``.
    """
    ssh = dict(config.get("ssh_tunnel", {}))
    if not ssh.get("enable"):
        raise ValueError("ssh_tunnel.enable is not set")
    for req in ("host", "username", "private_key"):
        if not ssh.get(req):
            raise ValueError(f"ssh_tunnel.{req} is required")
    ssh_port = int(ssh.get("port", 22))
    raise NotImplementedError(
        "SSH tunnels are not opened in-process. Start an external tunnel, "
        f"e.g. `ssh -N -p {ssh_port} -L 127.0.0.1:<local_port>:"
        f"{params.host}:{params.port} {ssh['username']}@{ssh['host']}`, "
        "and point host/port at its local end (127.0.0.1:<local_port>)."
    )
