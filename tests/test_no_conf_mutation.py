"""The package never mutates the session's SQL conf: small state (pagerank
ranks, connected-components labels, bloom admit sets) runs under the
caller's own configuration, so a shared long-lived session sees no
override leak from an operator."""

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "otel_arrow_spark"


def test_no_conf_set_in_package():
    hits = [
        f"{p.relative_to(PKG.parent)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".conf.set(" in line
    ]
    assert hits == [], hits
