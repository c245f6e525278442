"""Which ``tap_postgres_spark`` functions an entry point calls on the driver.

    python tools/reachability.py trace OUT.json SCRIPT [ARG ...]
    python tools/reachability.py trace OUT.json -m MODULE [ARG ...]
    python tools/reachability.py report OUT.json [OUT.json ...] -- NAME [NAME ...]

``trace`` runs SCRIPT (or ``-m MODULE``) as ``__main__`` under
``sys.setprofile`` and ``threading.setprofile`` (py4j callback threads,
where ``foreachBatch`` bodies run, included) and writes a JSON map
``"<file>:<qualname>" -> calls``.  Python workers (UDF bodies) are other
processes and are not traced.  ``report`` prints a markdown row per NAME:
its calls in each trace, and the files among ``tools/submit_*.py``,
``bench.py`` and ``tools/bench_*.py`` that name it (whole word).  A NAME
is a function, matched against each qualname component, or a file such
as ``streaming/gate.py``, matched against every function in it and
grepped as its dotted module path.  Stdlib only.
"""

from __future__ import annotations

import json
import os
import re
import runpy
import sys
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = os.sep + "tap_postgres_spark" + os.sep
STATIC = ["bench.py", "tools/submit_*.py", "tools/bench_*.py"]


def trace(out: str, argv: list[str]) -> None:
    hits: dict = {}

    def prof(frame, event, arg):
        # unlocked across threads: a lost update undercounts, never hides a call
        if event == "call":
            code = frame.f_code
            hits[code] = hits.get(code, 0) + 1

    def dump() -> None:
        got: dict[str, int] = {}
        for code, n in hits.copy().items():
            f = code.co_filename
            if PKG in f:
                key = f"{f[f.rindex(PKG) + len(PKG):]}:{code.co_qualname}"
                got[key] = got.get(key, 0) + n
        Path(out).write_text(json.dumps(dict(sorted(got.items())), indent=0))

    module = argv[0] == "-m"
    target = argv[1] if module else argv[0]
    sys.argv = argv[1:] if module else argv
    sys.path.insert(0, os.getcwd() if module else os.path.dirname(os.path.abspath(target)))
    threading.setprofile(prof)
    sys.setprofile(prof)
    try:
        if module:
            runpy.run_module(target, run_name="__main__", alter_sys=True)
        else:
            runpy.run_path(target, run_name="__main__")
    finally:
        sys.setprofile(None)
        threading.setprofile(None)
        dump()


def report(files: list[str], names: list[str]) -> None:
    traces = [json.loads(Path(f).read_text()) for f in files]
    static = {str(p.relative_to(ROOT)): p.read_text()
              for pat in STATIC for p in sorted(ROOT.glob(pat))}
    cols = [Path(f).stem for f in files]
    print("| name | " + " | ".join(cols) + " | static hits |")
    print("|---" * (len(cols) + 2) + "|")
    for name in names:

        def match(key: str) -> bool:
            path, qual = key.split(":", 1)
            return path == name if name.endswith(".py") else name in qual.split(".")

        calls = [sum(n for k, n in t.items() if match(k)) for t in traces]
        word = name[:-3].replace("/", ".") if name.endswith(".py") else name
        grep = [p for p, text in static.items() if re.search(rf"\b{re.escape(word)}\b", text)]
        print(f"| `{name}` | " + " | ".join(map(str, calls))
              + f" | {', '.join(grep) or 0} |")


if __name__ == "__main__":
    if len(sys.argv) > 3 and sys.argv[1] == "trace":
        trace(sys.argv[2], sys.argv[3:])
    elif len(sys.argv) > 3 and sys.argv[1] == "report" and "--" in sys.argv:
        cut = sys.argv.index("--")
        report(sys.argv[2:cut], sys.argv[cut + 1:])
    else:
        sys.exit(__doc__)
