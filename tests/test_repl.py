"""SQL REPL: the repl_command.rs grammar vectors ported verbatim, plus an
end-to-end session (USE/SET FORMAT/SQL/OBSERVER) against the in-process
server."""

from __future__ import annotations

import io

import pytest

from influxdb_iox_spark.repl import (
    Exit,
    Help,
    Observer,
    Repl,
    ReplParseError,
    SetFormat,
    ShowDatabases,
    SqlCommand,
    UseDatabase,
    parse_repl_command,
)


# -- repl_command.rs unit vectors ---------------------------------------------


def test_parse_empty():
    for text in ("", "  ", " \t"):
        with pytest.raises(ReplParseError, match="No command specified"):
            parse_repl_command(text)


def test_parse_help():
    for text in ("help;", "help", "  help", "  help  ", "  HELP  ",
                 "  Help;  ", "  help  ; ", "  help me;  "):
        assert parse_repl_command(text) == Help(), text


def test_parse_observer():
    for text in ("observer;", "observer", "  observer", "  observer  ",
                 "  OBSERVER  ", "  Observer;  ", "  observer  ; "):
        assert parse_repl_command(text) == Observer(), text
    # tokens after observer fall through to SQL, ORIGINAL string kept
    assert parse_repl_command("  observer me;  ") == SqlCommand(
        "  observer me;  "
    )


def test_parse_show_databases():
    for text in ("show databases", "show  Databases", "show  databases;",
                 "SHOW DATABASES"):
        assert parse_repl_command(text) == ShowDatabases(), text
    assert parse_repl_command("SHOW DATABASES DD") == SqlCommand(
        "SHOW DATABASES DD"
    )


def test_parse_use_database():
    for text in ("use Foo", "use Database Foo;", "use Database Foo ;",
                 " use Database Foo;   "):
        assert parse_repl_command(text) == UseDatabase("Foo"), text
    # database name case is preserved
    for text in ("use FOO", "use DATABASE FOO;", "USE DATABASE FOO;"):
        assert parse_repl_command(text) == UseDatabase("FOO"), text
    for text in ("use Database;", "use DATABASE", "use database"):
        with pytest.raises(ReplParseError, match="name not specified"):
            parse_repl_command(text)
    assert parse_repl_command("use database foo bar") == SqlCommand(
        "use database foo bar"
    )


def test_parse_set_format():
    for text in (" set format csv", "SET format   csv;", "set  format csv",
                 "set format csv;"):
        assert parse_repl_command(text) == SetFormat("csv"), text
    # raw case preserved; validation happens at dispatch
    assert parse_repl_command("set format Hmm") == SetFormat("Hmm")


def test_parse_sql_passthrough_and_exit():
    assert parse_repl_command("SELECT * from foo") == SqlCommand(
        "SELECT * from foo"
    )
    assert parse_repl_command("blah") == SqlCommand("blah")
    for text in ("exit", "exit;", "exit ;", "EXIT", "quit", "quit;",
                 "quit ;", "QUIT"):
        assert parse_repl_command(text) == Exit(), text
    assert parse_repl_command("quit dragging") == SqlCommand("quit dragging")


# -- end-to-end session --------------------------------------------------------


@pytest.fixture(scope="module")
def repl_server(spark, tmp_path_factory):
    from influxdb_iox_spark.client import IoxClient
    from influxdb_iox_spark.rpc_h2 import GrpcH2Server
    from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer, IoxServer

    base = tmp_path_factory.mktemp("repl_srv")
    server = IoxServer(spark, str(base))
    grpc = GrpcH2Server(server)
    http = IoxMultiDbHttpServer(server)
    http_port = http.start()
    client = IoxClient(
        grpc_port=grpc.port, http_url=f"http://127.0.0.1:{http_port}"
    )
    client.create_database("repldb", partition_template_parts=[{"table": {}}])
    client.write("repldb", "cpu,region=west user=1.5 100\ncpu,region=east user=2.0 200")
    yield client
    client.close()
    http.stop()
    grpc.shutdown()


def _session(client, lines):
    out = io.StringIO()
    Repl(client, out=out).run(iter(lines))
    return out.getvalue()


def test_repl_full_session(repl_server):
    out = _session(repl_server, [
        "show databases;\n",
        "use repldb;\n",
        "set format json;\n",
        "select region, user from cpu\n",   # multi-line SQL...
        "order by region;\n",               # ...terminated by ;
        "exit\n",
        "select 1;\n",                      # never reached
    ])
    assert "repldb" in out
    assert "querying database repldb" in out
    assert '"region": "east"' in out and '"user": 2.0' in out
    assert out.count("east") == 1  # the post-exit statement never ran


def test_repl_errors_keep_session_alive(repl_server):
    out = _session(repl_server, [
        "select 1;\n",            # no database selected
        "use nosuchdb;\n",        # unknown database
        "use database;\n",        # parse error
        "set format wat;\n",      # unknown format
        "show databases;\n",
    ])
    assert "no database selected" in out
    assert "database not found: nosuchdb" in out
    assert "name not specified" in out
    assert "Unknown format type: wat" in out
    assert "repldb" in out  # session survived all four errors


def test_repl_observer_mode(repl_server):
    out = _session(repl_server, [
        "observer;\n",
        "set format csv;\n",
        "select database, table_name, count(*) as n from chunks "
        "group by database, table_name;\n",
    ])
    assert "Observer mode" in out
    assert "repldb,cpu,1" in out


def test_repl_help_and_bare_exit_mid_buffer(repl_server):
    out = _session(repl_server, ["help;\n", "quit\n"])
    assert "SHOW DATABASES" in out and "OBSERVER" in out
