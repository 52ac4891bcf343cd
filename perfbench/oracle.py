"""DuckDB oracle check of one run's dumped query outputs.

The comparison is the repository's own `scripts/check.py`, loaded from the
checkout and called unchanged: exact values, rows sorted by all columns,
columns sorted by name, and a column-type audit. Its per-query status lines
are parsed into a verdict per query.
"""
import contextlib
import importlib.util
import io
import os
import re

_LINE = re.compile(r"^  (q\w+): (.*)$")


def load_check(root):
    path = os.path.join(root, "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root, data_dir, dump_dir, timeout=120.0):
    """Compare every `q*` directory under `dump_dir` with its oracle from
    `dump_dir/oracle_sql.json`. Returns {query: (passed, status line)}."""
    mod = load_check(root)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data_dir, dump_dir, timeout)
    verdicts = {}
    name = None
    for line in buf.getvalue().splitlines():
        m = _LINE.match(line)
        if m:
            name = m.group(1)
            verdicts[name] = (m.group(2).startswith("OK"), m.group(2))
        elif name and line.startswith("    "):
            ok, text = verdicts[name]
            verdicts[name] = (ok, text + " | " + line.strip())
    return verdicts
