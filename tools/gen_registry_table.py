"""Generate the FINAL_REGISTRY map (entry → op tags → home module →
oracle kind) straight from the registry object, so COVERAGE.md's
registry section cannot drift from the code (VERDICT r4 item 8).

Usage: python tools/gen_registry_table.py          # rewrite COVERAGE.md
       python tools/gen_registry_table.py --check  # exit 1 on drift

Op tags are read statically from each query function's source: every
tagged-union entry emits its discriminator as F.lit("<tag>").alias("op")
(the repo-wide convention), so the regex recovers the full tag set
without executing Spark.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BEGIN = "<!-- BEGIN GENERATED REGISTRY TABLE (tools/gen_registry_table.py) -->"
END = "<!-- END GENERATED REGISTRY TABLE -->"

_OP_RE = re.compile(r"""F\.lit\(\s*['"]([A-Za-z0-9_:]+)['"]\s*\)\s*\.alias\(\s*['"]op['"]\s*\)""")


def _op_tags(fn) -> list[str]:
    src = inspect.getsource(inspect.unwrap(fn))
    seen: list[str] = []
    for m in _OP_RE.finditer(src):
        if m.group(1) not in seen:
            seen.append(m.group(1))
    # tags produced by per-row F.lit(d["key"]) loops or nested calls are
    # not statically visible; such entries declare fn.op_tags (render)
    return seen


def render() -> str:
    from datalake_public_spark.driver_registry import FINAL_REGISTRY

    lines = [
        BEGIN,
        "",
        "## FINAL_REGISTRY map (generated — do not hand-edit)",
        "",
        f"{len(FINAL_REGISTRY)} entries. Op tags are the discriminator values",
        "each tagged-union entry emits; `—` means the entry is a single shape.",
        "Oracle kind `sql` = DuckDB value-hash comparison; all 50 have one.",
        "",
        "| Entry | Op tags | Home | Oracle |",
        "|---|---|---|---|",
    ]
    for name, spec in FINAL_REGISTRY.items():
        fn = spec.spark
        # entries that emit their discriminator through a variable (a
        # row-factory helper) declare tags explicitly via fn.op_tags
        tags = list(getattr(fn, "op_tags", [])) or _op_tags(fn)
        mod = fn.__module__.rsplit(".", 1)[-1]
        oracle = "sql" if spec.oracle else "rows-only"
        tag_s = "/".join(tags) if tags else "—"
        lines.append(f"| `{name}` | {tag_s} | `{mod}.{fn.__name__}` | {oracle} |")
    lines += ["", END]
    return "\n".join(lines)


def main() -> int:
    # resolve relative to the repo root (this file's parent's parent),
    # not the cwd, so the tool and its drift test work from any checkout
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "COVERAGE.md",
    )
    with open(path) as f:
        doc = f.read()
    table = render()
    if BEGIN in doc:
        pre, rest = doc.split(BEGIN, 1)
        _, post = rest.split(END, 1)
        new = pre + table + post
    else:
        new = doc.rstrip() + "\n\n" + table + "\n"
    if "--check" in sys.argv:
        if new != doc:
            print("COVERAGE.md registry table is stale — run "
                  "python tools/gen_registry_table.py", file=sys.stderr)
            return 1
        print("registry table up to date")
        return 0
    with open(path, "w") as f:
        f.write(new)
    print(f"wrote registry table ({table.count(chr(10))} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
