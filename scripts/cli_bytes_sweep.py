"""Byte-exactness sweep for the CLI render path.

For every golden case in the given families, run the FULL CLI pipeline
(mlrcli.execute + writers.render, MLR_OFMT=%.8f like the reference's
regtest harness) and compare the rendered bytes against expout
verbatim. Only order-preserving chains can be byte-compared (emission
order is part of the bytes); others are counted as skipped.

Usage: python scripts/cli_bytes_sweep.py [family-glob ...]
"""

from __future__ import annotations

import glob
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mlrsketch.mlrcli import Unsupported, execute  # noqa: E402
from mlrsketch.writers import render  # noqa: E402
from mlrsketch.session import get_spark  # noqa: E402

REF = "/root/reference/test/cases"


def _render_res(res) -> str:
    return render(
        (res.render_records if res.render_records is not None
         else res.records) or [],
        res.ofmt, ofs=res.ofs, flatsep=res.flatsep,
        headerless=res.headerless_out, quoted_dkvp=res.quoted_dkvp,
        lite=res.olite, auto_unflatten=not res.no_auto_unflatten,
        float_ofmt=res.float_ofmt,
        **res.render_opts,
    )


def _split_in_place(cmd: str):
    """`mlr -I ...`: returns (base_cmd_without_files, [files]) when -I
    is in global flag position, else None."""
    import shlex

    toks = shlex.split(cmd)
    if "-I" not in toks[1:3] and "-I" not in toks:
        return None
    # -I must appear before the first verb-looking bare token
    i_at = toks.index("-I")
    if any(not t.startswith("-") and os.path.isfile(t) is False and "=" not in t
           and t != "mlr" for t in toks[1:i_at]):
        pass  # flags/values before -I are fine either way
    files = []
    while toks and os.path.isfile(toks[-1]):
        files.append(toks.pop())
    files.reverse()
    toks.remove("-I")
    return " ".join(shlex.quote(t) if " " in t else t for t in toks), files


def try_case(spark, case_dir: str):
    """Returns ("pass"|"fail"|"skip", detail)."""
    import shutil
    import tempfile

    if "should-fail" in os.listdir(case_dir):
        return "skip", "should-fail"
    with open(os.path.join(case_dir, "cmd")) as f:
        cmd = f.read().strip()
    # precopy (regtester.go PreCopyName) / postcmp / a write-capable
    # ${CASEDIR} chain (tee/split): stage a scratch mirror of the case
    # dir — the reference tree is READ-ONLY and the sweep must never
    # create files under it. Read-only ${CASEDIR} uses keep the real
    # dir (goldens like dsl-stat/0001 embed the input path in expout).
    import re as _re

    workdir, tmpd = case_dir, None
    precopy = os.path.join(case_dir, "precopy")
    postcmp_f = os.path.join(case_dir, "postcmp")
    if (os.path.exists(precopy) or os.path.exists(postcmp_f)
            or ("${CASEDIR}" in cmd and _re.search(r"\b(tee|split)\b", cmd))):
        tmpd = tempfile.mkdtemp(prefix="mlrcase_")
        workdir = tmpd
        # mirror the case's own files (.expect targets etc.) so postcmp
        # pairs resolve inside the scratch dir
        for fn in os.listdir(case_dir):
            src = os.path.join(case_dir, fn)
            if os.path.isfile(src):
                shutil.copy(src, os.path.join(tmpd, fn))
        if os.path.exists(precopy):
            for ln in open(precopy):
                parts = ln.split()
                if len(parts) != 2:
                    continue
                src = parts[0] if os.path.isabs(parts[0]) else os.path.join(
                    "/root/reference", parts[0]
                )
                shutil.copy(src, parts[1].replace("${CASEDIR}", tmpd))
    # "./${CASEDIR}/input" must collapse to the absolute workdir path —
    # normalize the ./-prefixed form BEFORE the plain substitution (the
    # old "./" + case_dir fixup only worked when workdir == case_dir)
    cmd = (
        cmd.replace("./${CASEDIR}", workdir)
        .replace("${CASEDIR}", workdir)
        .replace("./" + case_dir, case_dir)
    )
    env = {"MLR_OFMT": "%.8f"}
    envf = os.path.join(case_dir, "env")
    if os.path.exists(envf):
        for line in open(envf):
            k, _, v = line.strip().partition("=")
            if k:
                env[k] = v
    experr = os.path.join(case_dir, "experr")
    if os.path.exists(experr) and os.path.getsize(experr) > 0:
        return "skip", "stderr case"
    in_place = _split_in_place(cmd) if " -I " in f" {cmd} " else None
    try:
        if in_place:
            # mlr -I: run the chain per file, write the rendered output
            # back over that file; stdout stays empty
            base_cmd, files = in_place
            if not files:
                return "skip", "in-place without resolvable files"
            for fpath in files:
                res1 = execute(spark, f"{base_cmd} {fpath}", env=env)
                if res1.text is not None:
                    body = res1.text
                elif not res1.ordered:
                    return "skip", "unordered chain"
                else:
                    body = _render_res(res1)
                with open(fpath, "w") as fh:
                    fh.write(body)
            got = ""
            res = res1
        else:
            res = execute(spark, cmd, env=env)
    except Unsupported as e:
        return "skip", f"unsupported: {e}"
    with open(os.path.join(case_dir, "expout"), "rb") as f:
        exp = f.read().decode("utf-8", "replace")
    if in_place:
        pass  # got already ""
    elif res.text is not None:
        got = res.text
    else:
        if not res.ordered:
            return "skip", "unordered chain"
        try:
            got = _render_res(res)
        except ValueError as e:
            return "skip", f"writer: {e}"
    # postcmp (regtester.go PostCompareName): expected-vs-actual file
    # pairs; .expect files live in the original case dir
    postcmp = os.path.join(case_dir, "postcmp")
    if os.path.exists(postcmp):
        for ln in open(postcmp):
            parts = ln.split()
            if len(parts) != 2:
                continue

            def _resolve(p):
                cand = p.replace("${CASEDIR}", workdir)
                if not os.path.exists(cand):
                    cand = p.replace("${CASEDIR}", case_dir)
                return cand

            fa, fb = _resolve(parts[0]), _resolve(parts[1])
            try:
                ba = open(fa, "rb").read()
                bb = open(fb, "rb").read()
            except OSError as e:
                return "fail", f"postcmp {e}"
            if ba != bb:
                return "fail", f"postcmp differs: {parts[0]} vs {parts[1]}"
    if res.last_verb == "utf8-to-latin1":
        # the reference writes LATIN-1 bytes here (intentionally not
        # UTF-8); compare raw bytes instead of the lossy utf-8 decode
        with open(os.path.join(case_dir, "expout"), "rb") as f:
            raw = f.read()
        try:
            gb = got.encode("latin-1")
        except UnicodeEncodeError:
            return "fail", "latin-1 encode"
        if gb == raw:
            return "pass", None
        return "fail", f"{len(gb)}b vs {len(raw)}b (latin-1)"
    if got == exp:
        return "pass", None
    return "fail", f"{len(got)}b vs {len(exp)}b"


def main():
    pats = sys.argv[1:] or ["io-*", "verb-*", "dsl-*", "cli-*"]
    spark = get_spark(cores=8, shuffle_partitions=8, app="cli-bytes")
    spark.sparkContext.setLogLevel("ERROR")
    cases = sorted(
        d for pat in pats for d in glob.glob(f"{REF}/{pat}/*/")
        if os.path.exists(d + "cmd")
    )
    n_pass, fails = 0, []
    skips = Counter()
    skip_names = []
    for c in cases:
        c = c.rstrip("/")
        try:
            status, detail = try_case(spark, c)
        except Exception as e:  # noqa: BLE001
            status, detail = "fail", f"RUNTIME {type(e).__name__}: {e}"
        if status == "pass":
            n_pass += 1
        elif status == "fail":
            fails.append((c.replace(REF + "/", ""), detail))
        else:
            skips[detail.split(":")[0]] += 1
            if detail.split(":")[0] not in ("should-fail", "stderr case"):
                skip_names.append((c.replace(REF + "/", ""), detail))
    print(f"\nbyte-exact pass={n_pass} fail={len(fails)} "
          f"skip={sum(skips.values())} total={len(cases)}")
    print("\n-- skip reasons --")
    for r, n in skips.most_common(12):
        print(f"  {n:5d}  {r}")
    print("\n-- non-should-fail skips (enumerated) --")
    for c, d in skip_names[:40]:
        print(f"  {c}: {d}")
    fam = Counter(c.split("/")[0] for c, _ in fails)
    print("\n-- fail families --")
    for r, n in fam.most_common(30):
        print(f"  {n:5d}  {r}")
    print("\n-- first 60 fails --")
    for c, d in fails[:60]:
        print(f"  {c}: {d}")


if __name__ == "__main__":
    main()
