"""Mini mlr-CLI interpreter over mlrsketch: auto-replays reference
golden cases (test/cases/verb-*/NNNN: cmd + expout) whose command line
is fully parseable into our verb calls. Anything with an unsupported
verb/flag raises Unsupported and the case is skipped (and counted) —
so every case that RUNS is a hard assertion of parity.

Supported surface: format flags (--opprint/--oxtab/--ocsv/--csv/
--csvlite/--c2p/--icsv/--from/-n), multi-file implicit union, `then`
chains, and ~30 verbs mapped onto mlrsketch.verbs.exact.
"""

from __future__ import annotations

import os
import shlex

from pyspark.sql import functions as F

from mlrsketch.session import python_task
from mlrsketch.verbs import exact as ev

REF = "/root/reference/test"


class Unsupported(Exception):
    pass


def _parse_pprint_lines(clines: list[str], dedupe: bool = True) -> list[dict]:
    """Positional pprint parse: Miller left-aligns and pads every column
    to its max width, so the header tokens' start offsets ARE the column
    boundaries — values containing spaces parse correctly."""
    header_line = clines[0]
    starts = []
    toks = []
    i = 0
    while i < len(header_line):
        if header_line[i] != " ":
            j = i
            while j < len(header_line) and header_line[j] != " ":
                j += 1
            starts.append(i)
            toks.append(header_line[i:j])
            i = j
        else:
            i += 1
    # Keys containing spaces over-tokenize the header (verb-unspace/0003:
    # 'a b', ' d e'). Recover the true columns from the ALL-line
    # all-space positions: the single pad space between columns is blank
    # in every line, a space inside a key/value is not.
    maxlen = max(len(ln) for ln in clines)
    padded = [ln.ljust(maxlen) for ln in clines]
    seps = [all(p[i] == " " for p in padded) for i in range(maxlen)]
    spans = []
    i2 = 0
    while i2 < maxlen:
        if not seps[i2]:
            j2 = i2
            while j2 < maxlen and not seps[j2]:
                j2 += 1
            spans.append((i2, j2))
            i2 = j2
        else:
            i2 += 1
    # drop pure-padding trailing spans (none in practice) and use the
    # span columns only when the header over-tokenized
    if 1 < len(spans) < len(toks):
        recs = []
        for ln in clines[1:]:
            rec = {}
            for lo, hi in spans:
                # raw slices: a key's own leading space (' d e') is part
                # of its span because some line is non-blank there
                rec[header_line[lo:hi].rstrip()] = ln[lo:hi].rstrip()
            recs.append(rec)
        return [_pprint_void(r) for r in recs]
    if dedupe:
        toks = _dedupe_header(toks)
    recs = []
    for ln in clines[1:]:
        # --right prints numeric columns right-aligned, breaking the
        # start-offset slicing; when the simple whitespace split yields
        # exactly one token per column (no embedded spaces) trust it
        simple = ln.split()
        if len(simple) == len(toks):
            recs.append(dict(zip(toks, simple)))
            continue
        rec = {}
        for k, name in enumerate(toks):
            lo = starts[k]
            hi = starts[k + 1] if k + 1 < len(starts) else len(ln)
            rec[name] = ln[lo:hi].rstrip()
        recs.append(rec)
    return [_pprint_void(r) for r in recs]


def _pprint_void(rec: dict) -> dict:
    """The pprint READER maps the "-" placeholder back to Miller VOID
    (record_reader_pprint.go:59 voidRep)."""
    return {k: ("" if v == "-" else v) for k, v in rec.items()}


# ---------------------------------------------------------------------------
# input / output parsing (same formats as test_golden_reference)
# ---------------------------------------------------------------------------


def _sanitize_json_native(v):
    """Nested JSON record -> interp value model: bools stay bool, JSON
    null becomes the first-class NULL sentinel (MT_NULL,
    mlrval_type.go:70-72 — prints back as null, passes through
    arithmetic per the NULL disposition rows). Keeps map-vs-array
    distinction that the flat column model cannot (dsl-sorts/sortmv:
    {"1":6,"2":5} is a MAP, not an array)."""
    from mlrsketch.dsl.interp import NULL

    if isinstance(v, dict):
        return {
            k: (NULL if x is None else _sanitize_json_native(x))
            for k, x in v.items()
        }
    if isinstance(v, list):
        return [
            NULL if x is None else _sanitize_json_native(x) for x in v
        ]
    return v


def _flatten_json_value(out: dict, key: str, v, sep: str):
    """Miller flatten semantics (flatten.go / mlrval flatten): nested
    maps -> sep-joined keys, arrays -> 1-based indices, empty
    collections -> literal "{}" / "[]"."""
    if isinstance(v, dict):
        if not v:
            out[key] = "{}"
        else:
            for k2, v2 in v.items():
                _flatten_json_value(out, f"{key}{sep}{k2}", v2, sep)
    elif isinstance(v, list):
        if not v:
            out[key] = "[]"
        else:
            for i, v2 in enumerate(v):
                _flatten_json_value(out, f"{key}{sep}{i + 1}", v2, sep)
    elif isinstance(v, bool):
        out[key] = "true" if v else "false"
    elif v is None:
        out[key] = None
    else:
        out[key] = str(v)


def _ragged_zip(header: list[str] | None, vals: list[str], ragged: bool,
                pad: bool = False) -> dict:
    """CSV row -> record. header None = implicit positional keys 1..n.
    Ragged semantics: long rows get positional keys n+1...; short rows
    PAD the trailing header keys with VOID "" in the lite readers
    (record_reader_csvlite.go:254-258, record_reader_tsv.go:226) but
    stay SHORT in the strict RFC-csv reader (record_reader_csv.go:293
    "leave it short — a job for unsparsify")."""
    if header is None:
        return {str(i + 1): v for i, v in enumerate(vals)}
    if len(vals) != len(header) and not ragged:
        # record_reader_csv.go:263-269 (issue #1535): when the chain
        # contains skip-trivial-records, all-empty ragged rows (e.g.
        # blank lines) are skipped at read rather than fatal
        if getattr(_TLS, "skip_trivial_csv", False) and not any(vals):
            return None
        raise Unsupported("ragged csv without --allow-ragged-csv-input")
    rec = dict(zip(header, vals))
    if pad and len(vals) < len(header):
        for k in header[len(vals):]:
            rec[k] = ""
    for j in range(len(header), len(vals)):
        k = str(j + 1)
        n = 2
        while k in rec:  # positional key colliding with a named column
            k = f"{j + 1}_{n}"
            n += 1
        rec[k] = vals[j]
    return rec


_TSV_UNESCAPES = {"\\t": "\t", "\\n": "\n", "\\r": "\r", "\\\\": "\\"}


def _tsv_decode(v: str) -> str:
    """Spec-TSV field decode: \\t \\n \\r \\\\ escapes (the reference's
    record_reader_tsv; TSV fields cannot contain raw tab/newline)."""
    if "\\" not in v:
        return v
    out, i = [], 0
    while i < len(v):
        two = v[i:i + 2]
        if two in _TSV_UNESCAPES:
            out.append(_TSV_UNESCAPES[two])
            i += 2
        else:
            out.append(v[i])
            i += 1
    return "".join(out)


def _dedupe_header(header: list[str]) -> list[str]:
    """Duplicate CSV header names become name, name_2, name_3
    (the reference's default --dedupe-field-names behavior)."""
    seen: dict[str, int] = {}
    out = []
    for h in header:
        n = seen.get(h, 0) + 1
        seen[h] = n
        out.append(h if n == 1 else f"{h}_{n}")
    return out


def _read_records(path: str, icsv, jsonin: bool = False, ifs: str | None = None,
                  flatsep: str = ".", comment_skip: str | None = None,
                  implicit_header: bool = False, ragged: bool = False,
                  lite: bool = False, ips: str | None = None,
                  codec: str | None = None, barred: bool = False,
                  dedupe: bool = True, quoted_dkvp: bool = False,
                  native_sink: list | None = None,
                  comment_pass: str | None = None,
                  comment_sink: list | None = None,
                  repifs: bool = False,
                  ifs_regex: str | None = None,
                  custom_irs: str | None = None,
                  lazy_quotes: bool = False) -> list[dict]:
    if path.startswith("file://"):
        path = path[len("file://"):]
    full = path if os.path.isfile(path) else os.path.join("/root/reference", path)
    with open(full, "rb") as f:
        raw = f.read()
    prepipe = getattr(_TLS, "prepipe", None)
    if prepipe:
        import subprocess
        import sys as _sys

        cmdline, as_arg = prepipe
        cmdline = cmdline.replace("${MLR}", f"{_sys.executable} -m mlrsketch")
        if as_arg:  # --prepipex: command gets the filename as an arg
            cmdline = f"{cmdline} {full}"
        proc = subprocess.run(
            cmdline, shell=True,
            input=None if as_arg else raw,
            capture_output=True, timeout=300,
        )
        if proc.returncode != 0:
            raise Unsupported(
                f"prepipe failed rc={proc.returncode}: "
                f"{proc.stderr.decode('utf-8', 'replace')[:120]}"
            )
        raw = proc.stdout
    ext = full.rsplit(".", 1)[-1].lower()
    codec = codec or {"gz": "gz", "bz2": "bz2", "z": "z", "zst": "zst"}.get(ext)
    if codec == "zst" or raw[:4] == b"\x28\xb5\x2f\xfd":
        try:
            import pyarrow as _pa

            raw = _pa.input_stream(
                _pa.py_buffer(raw), compression="zstd"
            ).read()
            codec = None
        except Exception as e:  # noqa: BLE001
            raise Unsupported(f"zstd input ({e})")
    if codec == "gz" or raw[:2] == b"\x1f\x8b":
        import gzip
        raw = gzip.decompress(raw)
    elif codec == "bz2" or raw[:3] == b"BZh":
        import bz2 as _bz2
        raw = _bz2.decompress(raw)
    elif codec == "z":
        import zlib
        raw = zlib.decompress(raw)
    try:
        text = raw.decode("utf-8")
    except UnicodeDecodeError:
        text = raw.decode("latin-1")
    if barred:
        # --barred-input: strip the +--+ frame and | separators, then
        # parse as plain pprint
        clean = []
        for ln in text.splitlines():
            if ln.lstrip().startswith("+-"):
                continue
            s = ln.strip()
            if s.startswith("|"):
                s = s.strip("|").replace(" | ", " ")
            clean.append(s)
        text = "\n".join(clean)
    if text.startswith("﻿"):
        text = text[1:]  # UTF-8 BOM (io-utf8-bom)
    if comment_skip is not None or comment_pass is not None:
        # --skip-comments[-with] / --pass-comments[-with]: comment LINES
        # leave the parse; pass mode records each with the index of the
        # record that follows it (the reference reader copies them to
        # stdout at read time, interleaved with the record stream)
        pre = comment_pass if comment_pass is not None else comment_skip
        kept: list[str] = []
        data_lines = 0
        blocks_done = 0
        in_block = False
        for ln in text.splitlines():
            if ln.startswith(pre):
                if comment_pass is not None and comment_sink is not None:
                    if jsonin:
                        # the json reader consumes all lines before the
                        # decoder parses: every comment precedes every
                        # record (io-skip-pass-comments/0022)
                        idx = 0
                    elif icsv == "xtab":
                        idx = blocks_done
                    elif icsv in ("tsv",) or icsv is True:
                        idx = max(
                            0,
                            data_lines - (0 if implicit_header else 1),
                        )
                    else:
                        idx = data_lines
                    comment_sink.append((idx, ln))
                continue
            kept.append(ln)
            if ln.strip() == "":
                if in_block:
                    blocks_done += 1
                in_block = False
            else:
                in_block = True
                data_lines += 1
        text = "\n".join(kept)
    if custom_irs:
        # paragraph mode (lflf) or ASV/USV record separators: rewrite
        # records onto plain lines before the per-format parse
        text = "\n".join(
            seg.replace("\n", " ") if custom_irs == "\n\n" else seg
            for seg in text.split(custom_irs)
            if seg.strip("\n") != ""
        ).replace("\r", "")
    if ifs_regex and icsv == "nidx":
        # re.split returns capture groups too — make them non-capturing
        rx = _re.compile("(?:" + ifs_regex.replace("(", "(?:") + ")")
        return [
            {str(ci + 1): v for ci, v in enumerate(rx.split(ln.strip()))}
            for ln in text.splitlines()
            if ln.strip() != ""
        ]
    if icsv == "tsv":
        lines = [ln for ln in text.splitlines() if ln.strip() != ""]
        if not lines:
            return []

        def _trow(ln):
            # tsvlite takes bytes literally; spec-TSV decodes \t \n \\
            if lite:
                return ln.split("\t")
            return [_tsv_decode(v) for v in ln.split("\t")]

        if implicit_header:
            rows0 = [_trow(ln) for ln in lines]
            hdr0 = [str(i + 1) for i in range(len(rows0[0]))]
            return [_ragged_zip(hdr0, r, True, pad=True) for r in rows0]
        # header cells keep their escape text verbatim (spec-tsv: the
        # reference decodes \t \n \\ only in DATA cells)
        header = lines[0].split("\t")
        if dedupe:
            header = _dedupe_header(header)
        zipped = (_ragged_zip(header, _trow(ln), ragged, pad=True)
                  for ln in lines[1:])
        return [r for r in zipped if r is not None]
    if icsv == "nidx":
        sep = ifs if ifs else None  # None -> any-whitespace split
        recs = []
        for ln in text.splitlines():
            if ln.strip() == "":
                continue
            vals = ln.split(sep) if sep else ln.split()
            if repifs:
                vals = [v for v in vals if v != ""]
            recs.append({str(i + 1): v for i, v in enumerate(vals)})
        return recs
    if jsonin:
        import json as _json

        from mlrsketch.dsl.interp import PFloat, PInt

        # number hooks preserve the data spelling (mlrval
        # OriginalString): 1.50 scans as 1.5 but prints back "1.50"
        def _pfloat(s):
            f = float(s)
            canon = (str(int(f)) if f == int(f) and abs(f) < 1e15
                     else repr(f))
            return f if canon == s else PFloat(f, s)

        def _pint(s):
            n = int(s)
            return n if str(n) == s else PInt(n, s)

        try:
            data = _json.loads(text, parse_float=_pfloat, parse_int=_pint)
        except ValueError:
            # Miller also accepts concatenated objects: {..}\n{..}
            dec = _json.JSONDecoder(parse_float=_pfloat, parse_int=_pint)
            data, idx = [], 0
            s = text.strip()
            try:
                while idx < len(s):
                    obj, end = dec.raw_decode(s, idx)
                    data.append(obj)
                    idx = end
                    while idx < len(s) and s[idx] in " \t\r\n,":
                        idx += 1
            except ValueError as e:
                raise Unsupported(f"json input parse: {e}")
        if not isinstance(data, list):
            data = [data]
        recs = []
        for r in data:
            if not isinstance(r, dict):
                raise Unsupported("non-object json input")
            flat: dict = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            recs.append(flat)
            if native_sink is not None:
                native_sink.append(_sanitize_json_native(r))
        return recs
    if icsv == "markdown":
        return _parse_markdown_rows(text, implicit_header=implicit_header)
    if icsv == "recutils":
        from mlrsketch.dsl.interp import infer_value

        out = []
        for r in _parse_recutils(text):
            flat: dict = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            out.append(flat)
            if native_sink is not None:
                # recutils values type-infer like dkvp (json output
                # prints Version: 1.0 as a number)
                native_sink.append(
                    {k: (infer_value(v) if isinstance(v, str) else v)
                     for k, v in r.items()}
                )
        return out
    if icsv == "dcf":
        out = []
        for r in _parse_dcf(text):
            flat = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            out.append(flat)
            if native_sink is not None:
                # DCF values stay STRING-typed (FromString) — json
                # output quotes "1.0"; list fields stay arrays
                native_sink.append(dict(r))
        return out
    if icsv == "yaml":
        out = []
        for r in _parse_yaml_docs(text):
            flat = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            out.append(flat)
            if native_sink is not None:
                native_sink.append(r)
        return out
    if icsv == "pprint":
        recs = []
        for chunk in text.split("\n\n"):
            clines = [ln for ln in chunk.splitlines() if ln.strip()]
            if not clines:
                continue
            if ifs:
                # --ifs on pprint input: the ifs char is the COLUMN
                # PADDING (like spaces in default pprint), so split on
                # RUNS of it — empty tokens are padding, never fields
                # (pprint renders void as "-")
                rows = [
                    [t for t in ln.split(ifs) if t != ""] for ln in clines
                ]
                if implicit_header:
                    hdr0 = [str(i + 1) for i in range(len(rows[0]))]
                    recs.extend(_ragged_zip(hdr0, r, True, pad=True) for r in rows)
                else:
                    hdr = _dedupe_header(rows[0]) if dedupe else rows[0]
                    recs.extend(_ragged_zip(hdr, r, ragged) for r in rows[1:])
            elif implicit_header:
                # --hi: every line is data; positional keys from a
                # whitespace split (values with spaces unsupported here);
                # header arity = first line, short rows pad with VOID
                rows = [ln.split() for ln in clines]
                hdr0 = [str(i + 1) for i in range(len(rows[0]))]
                recs.extend(_ragged_zip(hdr0, r, True, pad=True) for r in rows)
            else:
                recs.extend(_parse_pprint_lines(clines, dedupe=dedupe))
        return recs
    if icsv == "xtab":
        recs, cur = [], {}
        for ln in text.splitlines():
            if not ln.strip():
                if cur:
                    recs.append(cur)
                    cur = {}
                continue
            k, _, v = ln.partition(ips or " ")
            # repeated IPS is key padding (dots.xtab: a.....1 -> a=1)
            if ips:
                while v.startswith(ips):
                    v = v[len(ips):]
            if dedupe and k in cur:
                n = 2
                while f"{k}_{n}" in cur:
                    n += 1
                k = f"{k}_{n}"
            cur[k] = v.strip()
        if cur:
            recs.append(cur)
        return recs
    lines = [ln for ln in text.splitlines() if ln.strip() != ""]
    sep = ifs or ","
    if icsv:
        import csv as _csv
        import io as _io

        if lite:
            # csvlite (record_reader_csvlite.go): a blank line starts a
            # fresh header block (heterogeneous input); no embedded
            # newlines inside fields
            recs: list[dict] = []
            for chunk in text.split("\n\n"):
                clines = [ln for ln in chunk.splitlines() if ln.strip() != ""]
                if not clines:
                    continue
                rows = (
                    list(_csv.reader(clines, delimiter=sep))
                    if '"' in chunk
                    else [ln.split(sep) for ln in clines]
                )
                if repifs:  # --repifs: repeated IFS counts as one
                    rows = [[c for c in r if c != ""] for r in rows]
                if implicit_header:
                    hdr0 = [str(i + 1) for i in range(len(rows[0]))]
                    recs.extend(
                        _ragged_zip(hdr0, r, True, pad=True) for r in rows
                    )
                else:
                    hdr = _dedupe_header(rows[0]) if dedupe else rows[0]
                    recs.extend(
                        z
                        for r in rows[1:]
                        if (z := _ragged_zip(hdr, r, ragged, pad=True)) is not None
                    )
            return recs
        # RFC csv: ONE header; quoted fields may embed separators and
        # newlines; a fully blank line is a record with one empty field.
        # --lazy-quotes: quotes inside unquoted fields stay literal
        if lazy_quotes and '"' in text:
            rows = [
                (ln.split(sep) if not ln.lstrip().startswith('"')
                 else next(iter(_csv.reader([ln], delimiter=sep))))
                for ln in text.splitlines()
            ]
        else:
            rows = list(_csv.reader(_io.StringIO(text), delimiter=sep))
        rows = [r if r else [""] for r in rows]
        while rows and rows[-1] == [""]:
            rows.pop()  # trailing newline artifacts
        if not rows:
            return []
        if implicit_header:
            return [_ragged_zip(None, r, True) for r in rows]
        hdr = _dedupe_header(rows[0]) if dedupe else rows[0]
        zipped = (_ragged_zip(hdr, r, ragged) for r in rows[1:])
        return [r for r in zipped if r is not None]
    recs = []
    kvsep = ips or "="

    def _pairs(ln):
        if not quoted_dkvp:
            ps = ln.split(sep)
            if repifs:  # --repifs: repeated IFS counts as one
                ps = [p for p in ps if p != ""]
            return ps
        return _dkvpx_pairs(ln, sep)

    def _unq(v):
        return _dkvpx_unq(v) if quoted_dkvp else v

    for ln in lines:
        rec = {}
        for idx, pair in enumerate(_pairs(ln)):
            if kvsep in pair:
                k, _, v = pair.partition(kvsep)
            else:
                # DKVP pair without the k-v separator: positional key
                # 1..n (Miller record_reader_dkvp semantics)
                k, v = str(idx + 1), pair
            if dedupe and k in rec:
                n = 2
                while f"{k}_{n}" in rec:
                    n += 1
                k = f"{k}_{n}"
            rec[k] = _unq(v)
        recs.append(rec)
    return recs



def _dkvpx_pairs(ln: str, sep: str) -> list[str]:
    """dkvpx split: separators inside "..." are literal; "" escapes a
    quote (record_reader_dkvp quoted mode)."""
    parts, cur, inq = [], [], False
    k = 0
    while k < len(ln):
        ch = ln[k]
        if ch == '"':
            inq = not inq
            cur.append(ch)
            k += 1
        elif not inq and ln.startswith(sep, k):
            parts.append("".join(cur))
            cur = []
            k += len(sep)
        else:
            cur.append(ch)
            k += 1
    parts.append("".join(cur))
    return parts


def _dkvpx_unq(v: str) -> str:
    if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
        return v[1:-1].replace('""', '"')
    return v


def _parse_markdown_rows(text: str, implicit_header: bool = False) -> list[dict]:
    """Markdown-table input (record_reader_markdown.go): | a | b |
    header, |---| separator, | 1 | 2 | rows; a new header starts a new
    schema block. --implicit-csv-header treats every non-separator row
    as data with positional 1..n keys."""
    recs: list[dict] = []
    header: list[str] | None = None
    for ln in text.splitlines():
        s = ln.strip()
        if not s.startswith("|"):
            header = None
            continue
        cells = [c.strip() for c in s.strip("|").split("|")]
        if all(set(c) <= {"-", ":", " "} and c for c in cells):
            continue  # |---|---| separator row
        if implicit_header:
            recs.append({str(i + 1): c for i, c in enumerate(cells)})
            continue
        if header is None:
            header = cells
            continue
        recs.append(dict(zip(header, cells)))
    return recs


def _parse_recutils(text: str) -> list[dict]:
    """recutils input: Key: value lines in blank-line-separated blocks;
    '+ ' continuation lines append to the previous value with a
    newline; orphaned continuations are dropped."""
    recs: list[dict] = []
    cur: dict | None = None
    last_key: str | None = None
    for ln in text.splitlines():
        if ln.strip() == "":
            if cur:
                recs.append(cur)
            cur, last_key = None, None
            continue
        if ln.startswith("+"):
            body = ln[2:] if ln.startswith("+ ") else ln[1:]
            if cur is not None and last_key is not None:
                prev = cur[last_key]
                cur[last_key] = body if prev == "" else f"{prev}\n{body}"
            continue
        k, sep, v = ln.partition(":")
        if not sep:
            continue
        if cur is None:
            cur = {}
        key = k.strip()
        if key in cur:  # duplicate field names dedupe like csv headers
            n2 = 2
            while f"{key}_{n2}" in cur:
                n2 += 1
            key = f"{key}_{n2}"
        cur[key] = v.lstrip()
        last_key = key
    if cur:
        recs.append(cur)
    return recs


_DCF_LIST_FIELDS = {
    "Depends", "Pre-Depends", "Recommends", "Suggests", "Enhances",
    "Breaks", "Conflicts", "Replaces", "Build-Depends",
    "Build-Depends-Indep", "Build-Conflicts", "Build-Conflicts-Indep",
    "Built-Using",
}


def _parse_dcf(text: str) -> list[dict]:
    """Debian-control input (record_reader_dcf.go): Key: value
    paragraphs; leading-space continuation lines join with newlines;
    the Depends-family fields split into comma-lists. Values are
    STRING-typed in the reference (FromString — never inferred)."""
    recs: list[dict] = []
    cur: dict | None = None
    last_key: str | None = None
    for ln in text.splitlines():
        if ln.strip() == "":
            if cur:
                recs.append(cur)
            cur, last_key = None, None
            continue
        if ln[:1] in (" ", "\t") and last_key is not None and cur is not None:
            body = ln.strip()
            prev = cur[last_key]
            if isinstance(prev, list):
                cur[last_key] = prev + [body]
            else:
                cur[last_key] = f"{prev}\n{body}"
            continue
        k, sep, v = ln.partition(":")
        if not sep:
            continue
        k = k.strip()
        if cur is None:
            cur = {}
        if k in _DCF_LIST_FIELDS:
            cur[k] = [p.strip() for p in v.split(",") if p.strip()]
        else:
            cur[k] = v.strip()
        last_key = k
    if cur:
        recs.append(cur)
    return recs


def _yaml_scalar_in(tok: str):
    """YAML scalar token -> native value (reader side): quotes strip,
    null/~ -> MT_NULL, true/false -> bool, numbers typed, else str."""
    from mlrsketch.dsl.interp import NULL

    t = tok.strip()
    if t in ("null", "~", ""):
        return NULL if t != "" else ""
    if len(t) >= 2 and t[0] == t[-1] and t[0] in ("'", '"'):
        body = t[1:-1]
        if t[0] == '"':
            body = body.replace('\\"', '"').replace("\\\\", "\\")
        return body
    if t == "true":
        return True
    if t == "false":
        return False
    from mlrsketch.dsl.interp import infer_value

    v = infer_value(t)  # keeps the data spelling (PInt/PFloat printrep)
    return t if v is None else v


def _parse_yaml_docs(text: str) -> list[dict]:
    """Subset-YAML input (record_reader_yaml.go wraps yaml.v3; Miller
    only accepts maps-of-scalars/maps/arrays): documents split on ---
    lines, or one top-level sequence of records."""
    lines = [
        ln for ln in text.splitlines()
        if ln.strip() != "" and not ln.lstrip().startswith("#")
    ]

    def parse_block(i: int, indent: int):
        """Parse lines[i:] at `indent`; returns (value, next_i)."""
        if i >= len(lines):
            return {}, i
        ln = lines[i]
        cur_ind = len(ln) - len(ln.lstrip(" "))
        if ln.lstrip().startswith("- "):
            seq = []
            while i < len(lines):
                ln = lines[i]
                ind = len(ln) - len(ln.lstrip(" "))
                s = ln.lstrip()
                if ind < cur_ind or not s.startswith("- "):
                    break
                if ind > cur_ind:
                    raise Unsupported("yaml indentation")
                body = s[2:]
                if ":" in body:
                    # map item: rewrite as a deeper-indented map block
                    # starting with this line
                    sub_lines = [" " * (cur_ind + 2) + body]
                    j = i + 1
                    while j < len(lines):
                        nxt = lines[j]
                        nind = len(nxt) - len(nxt.lstrip(" "))
                        if nind <= cur_ind:
                            break
                        sub_lines.append(nxt)
                        j += 1
                    sub, _ = _parse_yaml_lines(sub_lines, cur_ind + 2)
                    seq.append(sub)
                    i = j
                else:
                    seq.append(_yaml_scalar_in(body))
                    i += 1
            return seq, i
        return _parse_yaml_lines_at(lines, i, indent)

    def _parse_yaml_lines(sub_lines: list, indent: int):
        saved = lines[:]
        try:
            lines[:] = sub_lines
            return _parse_yaml_lines_at(lines, 0, indent)
        finally:
            lines[:] = saved

    def _parse_yaml_lines_at(lns: list, i: int, indent: int):
        out: dict = {}
        while i < len(lns):
            ln = lns[i]
            ind = len(ln) - len(ln.lstrip(" "))
            if ind < indent:
                break
            if ind > indent:
                raise Unsupported("yaml indentation")
            s = ln.strip()
            if s.startswith("- "):
                break
            k, sep, v = s.partition(":")
            if not sep:
                raise Unsupported("yaml scalar document")
            key = k.strip()
            if len(key) >= 2 and key[0] == key[-1] and key[0] in ("'", '"'):
                key = key[1:-1]
            if v.strip() == "":
                # nested block (map or sequence) at deeper indent —
                # or an EMPTY value if the next line isn't deeper
                j = i + 1
                if j < len(lns):
                    nxt = lns[j]
                    nind = len(nxt) - len(nxt.lstrip(" "))
                    if nind > indent:
                        sub_lines = []
                        while j < len(lns):
                            nxt = lns[j]
                            nind = len(nxt) - len(nxt.lstrip(" "))
                            if nind <= indent:
                                break
                            sub_lines.append(nxt)
                            j += 1
                        first = sub_lines[0].lstrip()
                        if first.startswith("- "):
                            base = len(sub_lines[0]) - len(first)
                            seq = []
                            saved = lines[:]
                            lines[:] = sub_lines
                            try:
                                seq, _ = parse_block(0, base)
                            finally:
                                lines[:] = saved
                            out[key] = seq
                        else:
                            base = len(sub_lines[0]) - len(first)
                            out[key], _ = _parse_yaml_lines(sub_lines, base)
                        i = j
                        continue
                out[key] = ""
                i += 1
                continue
            out[key] = _yaml_scalar_in(v)
            i += 1
        return out, i

    def sort_keys(v):
        # the reference yaml reader converts through Go maps and SORTS
        # keys lexically at every level (mlrval_yaml.go:73-121)
        if isinstance(v, dict):
            return {k: sort_keys(v[k]) for k in sorted(v, key=str)}
        if isinstance(v, list):
            return [sort_keys(x) for x in v]
        return v

    # document layout: top-level sequence => records; else --- docs
    if lines and lines[0].startswith("- "):
        seq, _ = parse_block(0, 0)
        return [
            sort_keys(r) if isinstance(r, dict) else {"1": sort_keys(r)}
            for r in seq
        ]
    docs: list[dict] = []
    chunk: list[str] = []
    for ln in text.splitlines():
        if ln.strip() == "---":
            if chunk:
                docs.append(chunk)
            chunk = []
            continue
        if ln.strip() == "" or ln.lstrip().startswith("#"):
            continue
        chunk.append(ln)
    if chunk:
        docs.append(chunk)
    out_docs = []
    for ch in docs:
        saved = lines[:]
        lines[:] = ch
        try:
            d, _ = _parse_yaml_lines_at(lines, 0, 0)
        finally:
            lines[:] = saved
        out_docs.append(sort_keys(d))
    return out_docs


def parse_out(text: str, fmt: str, flatsep: str = ".", ofs: str | None = None,
              quoted_dkvp: bool = False,
              known_keys: set[str] | None = None,
              ops: str | None = None, olite: bool = False) -> list[dict]:
    if fmt in ("yaml", "dcf", "recutils"):
        # blank-line/document formats: reuse the INPUT parsers (the
        # writers round-trip through them), then flatten nested values
        # the same way the reader path does
        parser = {"yaml": _parse_yaml_docs, "dcf": _parse_dcf,
                  "recutils": _parse_recutils}[fmt]
        recs = []
        for r in parser(text):
            flat: dict = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            recs.append(flat)
        return recs
    if fmt == "jsonl":
        import json as _json

        recs = []
        for ln in text.splitlines():
            if not ln.strip():
                continue
            # Miller prints the bare token (error) for MT_ERROR values
            ln = _re.sub(r"(?<=: )\(error\)(?=[,\n\]}])", '"(error)"', ln)
            r = _json.loads(ln)
            if not isinstance(r, dict):
                raise Unsupported("non-object jsonl output")
            flat: dict = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            recs.append(flat)
        return recs
    if fmt == "tsv":
        recs = []
        for chunk in text.split("\n\n"):
            clines = [ln for ln in chunk.splitlines() if ln.strip()]
            if not clines:
                continue
            # the tsv WRITER escapes tab/newline/backslash in keys too,
            # so decode the header here (the reader keeps input header
            # text verbatim — see _read_records). tsvlite writes bytes
            # literally: no decoding on either side.
            dec = (lambda v: v) if olite else _tsv_decode
            header = [dec(v) for v in clines[0].split("\t")]
            recs.extend(
                dict(zip(header, (dec(v) for v in ln.split("\t"))))
                for ln in clines[1:]
            )
        return recs
    if fmt == "markdown":
        # | a | b | / | --- | --- | / | 1 | 2 |  (fresh table per
        # schema-change block)
        recs = []
        header: list[str] | None = None
        for ln in text.splitlines():
            s = ln.strip()
            if not s.startswith("|"):
                header = None
                continue
            cells = [
                c.strip().replace("\\|", "|")
                for c in _re.split(r"(?<!\\)\|", s.strip("|"))
            ]
            if all(_re.fullmatch(r":?-+:?", c) for c in cells):
                continue  # the --- / ---: alignment separator row
            if header is None:
                header = cells
            else:
                recs.append(dict(zip(header, cells)))
        return recs
    if fmt == "nidx":
        return [
            {str(i + 1): v
             for i, v in enumerate(ln.split(ofs) if ofs else ln.split())}
            for ln in text.splitlines()
            if ln.strip()
        ]
    if fmt == "pprint" and text.lstrip().startswith("+-"):
        # --barred: drop the +- frame lines, strip pipe separators, then
        # parse as plain pprint
        clean = []
        for ln in text.splitlines():
            if ln.startswith("+-"):
                continue
            s = ln.strip()
            if s.startswith("|"):
                s = s.strip("|").replace(" | ", " ")
            clean.append(s)
        return parse_out("\n".join(clean), "pprint")
    if fmt == "json":
        import json as _json

        # Miller prints the bare token (error) for MT_ERROR values
        text = _re.sub(r"(?<=: )\(error\)(?=[,\n\]}])", '"(error)"', text)
        data = _json.loads(text) if text.strip() else []
        if not isinstance(data, list):
            data = [data]
        recs = []
        for r in data:
            if not isinstance(r, dict):
                raise Unsupported("non-object json output")
            flat: dict = {}
            for k, v in r.items():
                _flatten_json_value(flat, k, v, flatsep)
            recs.append(flat)
        return recs
    lines = [ln for ln in text.splitlines() if ln.strip() != ""]
    if not lines:
        return []
    if fmt == "pprint":
        # heterogeneous output prints MULTIPLE tables separated by blank
        # lines, each with its own header; positional parse handles
        # values containing spaces
        recs = []
        for chunk in text.split("\n\n"):
            clines = [ln for ln in chunk.splitlines() if ln.strip()]
            if not clines:
                continue
            if ofs and ofs != " ":
                # --ofs on pprint output: separator-joined lines; the
                # column PADDING is still applied, so strip each cell
                rows = [[c.strip() for c in ln.split(ofs)] for ln in clines]
                recs.extend(dict(zip(rows[0], r)) for r in rows[1:])
            else:
                recs.extend(_parse_pprint_lines(clines))
        return recs
    if fmt == "csv":
        import csv as _csv
        import io as _io

        # Parse with a real CSV reader (RFC quoting, embedded newlines).
        # Blank rows mean het-schema blocks: csv/csvlite writers emit a
        # blank line + fresh header when the record schema changes.
        # csv.reader requires a single-char delimiter; a multi-char
        # --ofs falls back to a plain split (no quoting support, which
        # matches the reference's writer for exotic separators).
        sep = ofs or ","
        if len(sep) == 1:
            all_rows = list(_csv.reader(_io.StringIO(text), delimiter=sep))
        else:
            all_rows = [ln.split(sep) if ln else [] for ln in text.splitlines()]
        while all_rows and all_rows[-1] == []:
            all_rows.pop()
        recs = []
        block: list[list[str]] = []
        for row in all_rows + [[]]:
            if not row:
                if block:
                    recs.extend(dict(zip(block[0], r)) for r in block[1:])
                    block = []
                continue
            block.append(row)
        return recs
    if fmt == "xtab":
        if ops and ops != " ":
            # --ops on xtab replaces the key-value separator: a 1-char
            # ops pads keys to the block's max width with repeated ops
            # chars (like the default space padding); a multi-char ops
            # is written verbatim with no padding
            recs, cur = [], {}
            for ln in text.splitlines() + [""]:
                if not ln.strip():
                    if cur:
                        recs.append(cur)
                        cur = {}
                    continue
                if len(ops) == 1:
                    k, _, v = ln.partition(ops)
                    cur[k] = v.lstrip(ops)
                else:
                    k, _, v = ln.partition(ops)
                    cur[k] = v
            return recs
        if ofs and ofs not in ("\n", " "):
            # xtab --ofs replaces the NEWLINE between k-v lines; a
            # doubled separator is the record boundary
            recs = []
            for chunk in text.replace("\n", "").split(ofs + ofs):
                cur = {}
                for pair in chunk.split(ofs):
                    if pair.strip():
                        k, _, v = pair.partition(" ")
                        cur[k] = v.strip()
                if cur:
                    recs.append(cur)
            return recs
        if known_keys is not None:
            # multi-line xtab values (json-stringify payloads): a line
            # opening with a known key starts a field; anything else
            # continues the previous field's value verbatim
            recs, cur, lastk = [], {}, None
            for ln in text.splitlines():
                if not ln.strip():
                    if cur:
                        recs.append(cur)
                        cur, lastk = {}, None
                    continue
                head = ln.split(None, 1)
                if head and head[0] in known_keys and not ln[:1].isspace():
                    cur[head[0]] = head[1].strip() if len(head) > 1 else ""
                    lastk = head[0]
                elif lastk is not None:
                    cur[lastk] += "\n" + ln
            if cur:
                recs.append(cur)
            return recs
        recs, block = [], []
        for ln in text.splitlines() + [""]:
            if not ln.strip():
                if block:
                    recs.append(_xtab_block(block))
                    block = []
                continue
            block.append(ln)
        return recs
    # dkvp
    recs = []
    kvsep = ops or "="
    for ln in lines:
        rec = {}
        pairs = (_dkvpx_pairs(ln, ofs or ",") if quoted_dkvp
                 else ln.split(ofs or ","))
        for pair in pairs:
            k, _, v = pair.partition(kvsep)
            rec[k] = _dkvpx_unq(v) if quoted_dkvp else v
        recs.append(rec)
    return recs


def _norm_float_text(text: str) -> str:
    """Normalize float tokens to the reference regtester's 8-decimal
    print precision for raw-text compares."""
    def q(m):
        try:
            s = ("%.8f" % float(m.group(0))).rstrip("0").rstrip(".")
            return s if s else "0"
        except (ValueError, OverflowError):
            return m.group(0)

    return _re.sub(
        r"-?\d+\.\d+(?:[eE][+-]?\d+)?|-?\d+[eE][+-]?\d+", q, text
    )


def _xtab_block(lines: list[str]) -> dict:
    """One xtab record block. The writer pads keys to the block's max
    key width (xtab writer), so the value column is the smallest
    'non-space after a space' position common to every line — which
    keeps keys containing spaces intact (verb-stats1-regexed/0008's
    'Other Type_null_count'). Fallback: first-space partition."""
    starts_per = []
    for ln in lines:
        starts = {
            i for i in range(1, len(ln)) if ln[i - 1] == " " and ln[i] != " "
        }
        starts_per.append(starts)
    common = set.intersection(*starts_per) if starts_per else set()
    rec = {}
    if common:
        c = min(common)
        for ln in lines:
            rec[ln[:c].rstrip()] = ln[c:].strip()
    else:
        for ln in lines:
            k, _, v = ln.partition(" ")
            rec[k] = v.strip()
    return rec


# ---------------------------------------------------------------------------
# verb executors: (df, argv) -> df  (argv = this verb's args only)
# ---------------------------------------------------------------------------


def _flags(argv: list[str], known: dict[str, int | str]):
    """Parse argv into {flag: value(s)} + positionals; raise on unknown -flags.
    Arity 0 is a switch, 1 takes one value (the last occurrence wins), "*"
    takes one value per occurrence and collects them in order."""
    out: dict[str, object] = {}
    pos: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a in known:
            nvals = known[a]
            if nvals == 0:
                out[a] = True
                i += 1
            elif nvals == "*":
                out.setdefault(a, []).append(argv[i + 1])
                i += 2
            else:
                out[a] = argv[i + 1]
                i += 2
        elif a.startswith("-"):
            raise Unsupported(f"flag {a}")
        else:
            pos.append(a)
            i += 1
    return out, pos


def _csl(s: str) -> list[str]:
    return s.split(",")


def v_cat(df, argv):
    fl, pos = _flags(argv, {"-n": 0, "-N": 1, "-g": 1, "--filename": 0, "--filenum": 0})
    if pos:
        raise Unsupported("cat positional")
    if fl.get("--filename") or fl.get("--filenum"):
        cols = [c for c in df.columns if not c.startswith("__")]
        front = []
        # reference prepend order: filenum BEFORE filename (cat.go: the
        # counters map is built filename-first then PrependReference
        # reverses — expout verb-cat/0015 pins filenum,filename,...)
        if fl.get("--filenum"):
            if "__fnum" not in df.columns:
                raise Unsupported("cat --filenum without file context")
            front.append(F.col("__fnum").cast("int").alias("filenum"))
        if fl.get("--filename"):
            if "__fname" not in df.columns:
                raise Unsupported("cat --filename without file context")
            front.append(F.col("__fname").alias("filename"))
        df = df.select(*front, *cols, "__ord")
    counter_name = fl.get("-N", "n") if ("-N" in fl or fl.get("-n")) else None
    if counter_name is None:
        return df
    if "-g" not in fl:
        out = ev.cat_numbered(df, order_by=["__ord"])
        return out.withColumnRenamed("n", counter_name) if counter_name != "n" else out
    # Miller: records missing ANY group key share ONE counter bucket
    # (golden verb-cat/0007)
    by = _csl(fl["-g"])
    if any(b not in df.columns for b in by):
        key = F.lit("__missing__")
    else:
        present = None
        for b in by:
            c = F.col(b).isNotNull()
            present = c if present is None else (present & c)
        key = F.when(present, F.concat_ws("\x1f", *[F.col(b) for b in by])).otherwise(
            F.lit("__missing__")
        )
    out = ev.cat_numbered(df.withColumn("__grp", key), by=["__grp"], order_by=["__ord"]).drop("__grp")
    return out.withColumnRenamed("n", counter_name) if counter_name != "n" else out


def _drop_missing_keys(df, by):
    for b in by:
        if b not in df.columns:
            return df.limit(0)
        df = df.filter(F.col(b).isNotNull())
    return df


def _split_attached_n(argv):
    out = []
    for a in argv:
        m = _re.fullmatch(r"-n(\d+)", a)
        out.extend(["-n", m.group(1)] if m else [a])
    return out


def v_head(df, argv):
    fl, _ = _flags(_split_attached_n(argv), {"-n": 1, "-g": 1})
    n = int(fl.get("-n", 10))
    by = _csl(fl["-g"]) if "-g" in fl else []
    d = _drop_missing_keys(df, by)
    if n < 0:
        # negative n: all but the last |n| per group (head.go
        # transformAllButLast); a kept record is EMITTED when its |n|-th
        # successor in the group arrives, so its output position is that
        # successor's stream position
        from pyspark.sql import Window as W

        w = (W.partitionBy(*by) if by else W.partitionBy()).orderBy("__ord")
        return (
            d.withColumn("__emit", F.lead("__ord", -n).over(w))
            .filter(F.col("__emit").isNotNull())
            .withColumn("__ord", F.col("__emit"))
            .drop("__emit")
        )
    return ev.head(d, n, by=by, order_by=["__ord"])


def v_tail(df, argv):
    fl, _ = _flags(_split_attached_n(argv), {"-n": 1, "-g": 1})
    raw = str(fl.get("-n", 10))
    by = _csl(fl["-g"]) if "-g" in fl else []
    d = _drop_missing_keys(df, by)
    if raw.startswith("+"):
        # tail -n +K: emit from the Kth record onward (per group)
        k = int(raw[1:])
        from pyspark.sql import Window as W
        w = (W.partitionBy(*by) if by else W.partitionBy()).orderBy("__ord")
        return (
            d.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") >= k)
            .drop("__rn")
        )
    n = abs(int(raw))  # tail.go:142: negative count means its absolute value
    if by and "__ord" in d.columns:
        # tail.go buffers per-group lists in an insertion-ordered map and
        # emits at end-of-stream: groups CONTIGUOUS in first-appearance
        # order (set by the FULL stream, evicted records included),
        # records within each group in stream order
        from pyspark.sql import Window as W
        d = d.withColumn("__gord", F.min("__ord").over(W.partitionBy(*by)))
        out = ev.tail(d, n, by=by, order_by=["__ord"])
        return (
            out.withColumn(
                "__ord",
                F.row_number().over(W.partitionBy().orderBy("__gord", "__ord")),
            )
            .drop("__gord")
        )
    return ev.tail(d, n, by=by, order_by=["__ord"])


def v_cut(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-x": 0, "-o": 0})
    fields = [f for f in _csl(fl["-f"]) if f in df.columns or fl.get("-x")]
    if fl.get("-x"):
        return ev.cut(df, _csl(fl["-f"]), complement=True)
    keep = [f for f in df.columns if f in _csl(fl["-f"])] if not fl.get("-o") else [
        f for f in _csl(fl["-f"]) if f in df.columns
    ]
    sel = keep if keep else fields
    # stream order survives projection; per-record key order: kept keys
    # in record order, or in -f order under -o (cut.go:26 -o flag)
    extra = []
    if "__ord" in df.columns:
        extra.append(F.col("__ord"))
    if "__keys" in df.columns and sel:
        if fl.get("-o"):
            kc = F.filter(
                F.array(*[F.lit(f) for f in sel]),
                lambda k: F.array_contains(F.col("__keys"), k),
            )
        else:
            kc = F.filter(F.col("__keys"), lambda k: k.isin(*sel))
        extra.append(kc.alias("__keys"))
    if sel:
        return df.select(*sel, *extra)
    # nothing kept: keyless records (writers skip them) in stream order
    if "__ord" in df.columns:
        return df.select(*fields, "__ord")
    return df.select(*fields)


def v_sort(df, argv):
    specs = []
    i = 0
    while i < len(argv):
        a = argv[i]
        how = {"-f": "f", "-r": "r", "-nf": "nf", "-nr": "nr", "-c": "c", "-cr": "cr",
               "-t": "t", "-tr": "tr", "-rt": "tr"}.get(a)
        if how is None:
            raise Unsupported(f"sort flag {a}")
        for f_ in _csl(argv[i + 1]):
            if f_ not in df.columns:
                # absent everywhere: all records compare equal -> stable
                # pass-through (sort.go: missing values sort as ties)
                continue
            specs.append((f_, how))
        i += 2
    if not specs:
        return df
    # stable sort (ties keep stream order, sort.go) with __ord as final
    # tiebreak; the output order becomes the new stream order.
    # monotonically_increasing_id is globally monotone over the
    # range-partitioned sort output, so it re-numbers without a
    # single-task window.
    out = ev.sort(df, specs + [("__ord", "nf")])
    return out.withColumn("__ord", F.monotonically_increasing_id())


def _group_ord(df, out, by):
    """Attach Miller's emission order to a grouped aggregate: groups
    stream out in FIRST-SEEN order (the reference's ordered maps), i.e.
    min(__ord) per group; ungrouped aggregates emit one record."""
    if not by:
        return out.withColumn("__ord", F.lit(0))
    o = df.groupBy(*by).agg(F.min("__ord").alias("__ord"))
    return out.join(o, list(by), "left")


def v_uniq(df, argv):
    fl, _ = _flags(argv, {"-g": 1, "-f": 1, "-c": 0, "-n": 0, "-a": 0, "-o": 1, "-x": 1})
    by = _csl(fl.get("-g") or fl.get("-f") or "")
    if "-x" in fl:
        # use each record's other fields (uniq.go:66-70): het records
        # keep their nulls in the grouping tuple
        excl = set(_csl(fl["-x"]))
        by = [c for c in df.columns if not c.startswith("__") and c not in excl]
    if fl.get("-a") or "-x" in fl:
        # whole-record / other-fields dedupe, first-occurrence order.
        # -a keys on the full record string incl. KEY ORDER
        # (uniq.go:391-425 `inrec.String()`, count PREPENDED); -x keys
        # on the VALUES of each record's own non-excluded fields
        # (uniq.go:573 GetSelectedValuesAndJoined over
        # getFieldNamesForGrouping, count APPENDED), emitting the first
        # record's fields in that record's own key order.
        excl = _csl(fl["-x"]) if "-x" in fl else []
        cols = [c for c in df.columns if not c.startswith("__")]
        out_cols = [c for c in cols if c not in excl]
        if "__keys" not in df.columns:
            df = df.withColumn(
                "__keys", F.array(*[F.lit(c) for c in cols])
            )
        keysf = F.array_except(
            F.col("__keys"), F.array(*[F.lit(e) for e in excl])
        ) if excl else F.col("__keys")
        valmap = F.create_map(
            *[x for c in cols for x in (F.lit(c), F.col(c).cast("string"))]
        )
        if fl.get("-a"):
            sig = F.array_join(
                F.transform(
                    keysf,
                    lambda k: F.concat(
                        k, F.lit("="),
                        F.coalesce(F.element_at(valmap, k), F.lit("")),
                    ),
                ), "\x1f",
            )
        else:
            sig = F.array_join(
                F.transform(
                    keysf,
                    lambda k: F.coalesce(F.element_at(valmap, k), F.lit("")),
                ), "\x1f",
            )
        d2 = df.withColumn("__gk", sig)
        if fl.get("-n"):
            return d2.select("__gk").distinct().agg(
                F.count("*").alias(fl.get("-o") or "count")
            )
        agg = d2.groupBy("__gk").agg(
            F.min("__ord").alias("__ord"),
            F.count(F.lit(1)).alias("__cnt"),
            F.min_by(F.struct(*out_cols, "__keys"), "__ord").alias("__s"),
        )
        cname = fl.get("-o") or "count"
        sel = [F.col(f"__s.{c}").alias(c) for c in out_cols]
        cnt = [F.col("__cnt").alias(cname)] if fl.get("-c") else []
        if fl.get("-a"):
            sel = cnt + sel  # count PREPENDED (uniq.go:417)
        else:
            sel = sel + cnt  # count APPENDED (uniq.go:601-604)
        keys_out = (
            F.array_except(
                F.col("__s.__keys"), F.array(*[F.lit(e) for e in excl])
            ) if excl else F.col("__s.__keys")
        )
        return agg.select(*sel, keys_out.alias("__keys"), "__ord")
    if not by or by == [""]:
        raise Unsupported("uniq without -g/-f")
    d = df
    for b in by:
        if b not in d.columns:
            raise Unsupported("uniq on absent field")
        d = d.filter(F.col(b).isNotNull())
    if fl.get("-n"):
        return ev.uniq_distinct_count(d, by)
    agg = d.groupBy(*by).agg(
        F.count(F.lit(1)).alias("count"), F.min("__ord").alias("__ord")
    )
    out = agg if fl.get("-c") else agg.drop("count")
    if fl.get("-c") and "-o" in fl:
        out = out.withColumnRenamed("count", fl["-o"])
    return out


def v_count(df, argv):
    fl, _ = _flags(argv, {"-g": 1, "-o": 1, "-n": 0})
    by = _csl(fl["-g"]) if "-g" in fl else []
    if fl.get("-n"):
        # number of distinct group-key values (count.go: -n); single
        # output record at end of stream
        out = (
            ev.uniq_distinct_count(_drop_missing_keys(df, by), by)
            if by else df.agg(F.lit(1).alias("count"))
        ).withColumn("__ord", F.lit(0).cast("long"))
    else:
        out = _group_ord(df, ev.count_records(df, by=by), by)
    if "-o" in fl:
        out = out.withColumnRenamed("count", fl["-o"])
    return out


def v_count_distinct(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-u": 0, "-n": 0, "-o": 1})
    fields = _csl(fl["-f"])
    if any(f_ not in df.columns for f_ in fields):
        raise Unsupported("count-distinct absent field")
    if fl.get("-n"):
        return ev.count_distinct_n(df, fields).withColumn(
            "__ord", F.lit(0).cast("long"))  # -o is ignored with -n
    if fl.get("-u"):
        # unlashed emission order (uniq.go:510-530): per field in -f
        # order, values in first-seen stream order
        parts = []
        for i, f_ in enumerate(fields):
            p = (
                df.filter(F.col(f_).isNotNull())
                .groupBy(
                    F.lit(f_).alias("field"),
                    F.col(f_).cast("string").alias("value"),
                )
                .agg(F.count("*").alias("count"), F.min("__ord").alias("__m"))
                .withColumn(
                    "__ord", F.lit(i) * F.lit(1 << 40) + F.col("__m")
                )
                .drop("__m")
            )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    out = ev.count_distinct(df, fields, unlashed=False)
    out = _group_ord(df, out, fields)
    if "-o" in fl:
        out = out.withColumnRenamed("count", fl["-o"])
    return out


_FENCE_K_R = {"lof": -3.0, "lif": -1.5, "uif": 1.5, "uof": 3.0}


def _arr_pick(nn, p: float, interpolated: bool):
    """Miller percentile over a (frame-ordered) non-null array: sorted
    pick at int(p/100*n) (type=1), or R-type-7 interpolation with -i."""
    srt = F.array_sort(nn)
    cnt = F.size(nn)
    if interpolated:
        findex = F.greatest(F.lit(p / 100.0) * (cnt - 1).cast("double"), F.lit(0.0))
        iidx = F.floor(findex).cast("int")
        frac = findex - iidx.cast("double")
        lo = F.get(srt, iidx)
        hi = F.coalesce(F.get(srt, iidx + 1), lo)
        return lo + frac * (hi - lo)
    idx = F.least(
        F.greatest(F.floor(F.lit(p / 100.0) * cnt).cast("int"), F.lit(0)), cnt - 1
    )
    return F.get(srt, idx)


def _arr_acc(nn, total, a: str, interpolated: bool = False):
    """Stats1 accumulator over an array column `nn` of the frame's
    non-null values (order preserved); `total` = frame row count
    (for null_count). Mirrors Miller's streaming accumulators so the
    runner can replay `stats1 -s` (cumulative) and `stats1 -w`
    (trailing window) for the full accumulator list."""
    cnt = F.size(nn)
    ssum = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x)
    ssum2 = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x * x)
    if a == "count":
        return cnt
    if a == "sum":
        return ssum
    if a == "mean":
        return ssum / cnt
    if a == "min":
        return F.array_min(nn)
    if a == "max":
        return F.array_max(nn)
    if a == "var":
        return (ssum2 - ssum * ssum / cnt) / (cnt - 1)
    if a == "stddev":
        return F.sqrt((ssum2 - ssum * ssum / cnt) / (cnt - 1))
    if a == "distinct_count":
        return F.size(F.array_distinct(nn))
    if a == "null_count":
        return total - cnt
    if a == "first":
        return F.element_at(nn, 1)
    if a == "last":
        return F.element_at(nn, -1)
    if a in ("mode", "antimode"):
        dv = F.array_distinct(nn)
        counts = F.transform(dv, lambda v: F.size(F.filter(nn, lambda x: x == v)))
        n_d = F.size(dv)
        sentinel = -1 if a == "mode" else 1 << 40
        cmp = (lambda c, best: c > best) if a == "mode" else (lambda c, best: c < best)
        best = F.aggregate(
            F.sequence(F.lit(0), n_d - 1),
            F.struct(F.lit(-1).alias("i"), F.lit(sentinel).cast("long").alias("c")),
            lambda acc, i: F.when(
                cmp(F.get(counts, i).cast("long"), acc["c"]),
                F.struct(i.alias("i"), F.get(counts, i).cast("long").alias("c")),
            ).otherwise(acc),
        )
        return F.when(n_d > 0, F.get(dv, best["i"]))
    if a == "median":
        return _arr_pick(nn, 50.0, interpolated)
    if a == "iqr":
        return _arr_pick(nn, 75.0, interpolated) - _arr_pick(nn, 25.0, interpolated)
    if a in _FENCE_K_R:
        k = _FENCE_K_R[a]
        base = _arr_pick(nn, 25.0, interpolated) if k < 0 else _arr_pick(nn, 75.0, interpolated)
        return base + F.lit(k) * (
            _arr_pick(nn, 75.0, interpolated) - _arr_pick(nn, 25.0, interpolated)
        )
    if a.startswith("p") and a[1:].replace(".", "").isdigit():
        return _arr_pick(nn, float(a[1:]), interpolated)
    raise Unsupported(f"stats1 frame acc {a}")


_STATS1_OK = {
    "mean", "sum", "count", "min", "max", "var", "stddev", "meaneb", "skewness",
    "kurtosis", "median", "mode", "antimode", "mad", "null_count", "distinct_count",
    "minlen", "maxlen", "first", "last", "iqr", "lof", "lif", "uif", "uof",
}


def v_stats1(df, argv):
    fl, _ = _flags(argv, {"-a": 1, "-f": 1, "-g": 1, "-i": 0, "-w": 1,
                          "--fr": 1, "--fx": 1, "--gr": 1, "--gx": 1, "-F": 0, "-s": 0})
    accs = _csl(fl["-a"])
    cols = [c for c in df.columns if not c.startswith("__")]
    if "--fr" in fl or "--fx" in fl:
        key = "--fr" if "--fr" in fl else "--fx"
        pat = _regexes([fl[key]])[0]
        values = [c for c in cols if bool(pat.search(c)) == (key == "--fr")]
    else:
        values = _csl(fl["-f"])
    if "--gr" in fl or "--gx" in fl:
        key = "--gr" if "--gr" in fl else "--gx"
        pat = _regexes([fl[key]])[0]
        by = [c for c in cols if bool(pat.search(c)) == (key == "--gr")]
    else:
        by = _csl(fl["-g"]) if "-g" in fl else []
    df = _drop_missing_keys(df, by)
    if "-w" in fl or fl.get("-s"):
        # -w n: trailing window of n records; -s: cumulative (expanding)
        # stats appended per record (stats1.go -w/-s). Both are one
        # WindowExec over collect_list + array accumulators.
        from pyspark.sql import Window as W

        if any(v not in df.columns for v in values):
            raise Unsupported("stats1 -w/-s absent value field")
        base = (W.partitionBy(*by) if by else W.partitionBy()).orderBy("__ord")
        if "-w" in fl:
            frame = base.rowsBetween(-(int(fl["-w"]) - 1), 0)
        else:
            frame = base.rowsBetween(W.unboundedPreceding, W.currentRow)
        interp = bool(fl.get("-i"))
        out = df
        adds = {}
        for f_ in values:
            nn = F.collect_list(F.col(f_).try_cast("double")).over(frame)
            total = F.count(F.lit(1)).over(frame)
            # all-int fields: int-preserving accumulators keep INT typing
            # per window (sum/min/max/picks always integral; mean only
            # when the window sum divides evenly — divide_n_ii)
            sc = F.col(f_).cast("string")
            all_int = (
                df.filter(sc.isNotNull() & (sc != "")
                          & ~sc.rlike("^-?[0-9]+$")).count() == 0
            )
            for a in accs:
                c = _arr_acc(nn, total, a, interp)
                # variance-family always finalizes float64
                # (bifs/stats.go:26-45); everything else keeps int
                # typing when the inputs are int and the result is
                # whole (divide_n_ii for mean)
                if all_int and a not in (
                    "count", "var", "stddev", "meaneb",
                    "skewness", "kurtosis",
                ):
                    c = F.when(
                        c == F.floor(c), c.cast("long").cast("string")
                    ).otherwise(c.cast("string"))
                adds[f"{f_}_{a}"] = c
        return out.withColumns(adds)
    if any(v not in df.columns for v in values):
        raise Unsupported("stats1 absent value field")
    for a in accs:
        if a not in _STATS1_OK and not (a.startswith("p") and a[1:].replace(".", "").isdigit()):
            raise Unsupported(f"stats1 acc {a}")
    plain = [a for a in accs if a not in ("mode", "antimode", "mad")]
    out = (
        ev.stats1(df, plain, values, by=by, interpolated=bool(fl.get("-i")),
                  typed=True)
        if plain
        else None
    )
    extras = {}
    for a in accs:
        if a in ("mode", "antimode"):
            for f_ in values:
                m = ev.mode_impl(df, f_, by=by, anti=(a == "antimode"))
                extras[f"{f_}_{a}"] = m
        elif a == "mad":
            for f_ in values:
                extras[f"{f_}_mad"] = ev.mad(df, f_, by=by)
    for name, mdf in extras.items():
        out = mdf if out is None else (out.join(mdf, by) if by else out.crossJoin(mdf))
    # int printrep: when every input value of a field scans INT, the
    # int-preserving accumulators stay int-typed in the reference
    # (sum/min/max and value PICKS; not mean/var/fences)
    # (min/max and the percentile family come back Miller-typed from
    # ev.stats1(typed=True) and need no post-hoc casting)
    int_accs = {"sum", "mode", "antimode", "distinct_count",
                "null_count", "minlen", "maxlen", "first", "last"}
    for f_ in values:
        sc = F.col(f_).cast("string")
        nn = df.filter(sc.isNotNull() & (sc != ""))
        if nn.count() == 0 or nn.filter(~sc.rlike("^-?[0-9]+$")).count() > 0:
            continue
        for a in accs:
            c = f"{f_}_{a}"
            if c in out.columns and a in int_accs:
                out = out.withColumn(c, F.col(c).cast("long"))
            elif c in out.columns and a == "mean":
                # int mean: sum/count goes through BIF_divide — int/int
                # with a%b==0 stays INT (arithmetic.go:284-298); carry
                # the per-group typing in a string column the writer
                # re-scans (int prints bare, float through OFMT)
                d = F.col(c)
                out = out.withColumn(
                    c,
                    F.when(d == F.floor(d), d.cast("long").cast("string"))
                    .otherwise(d.cast("string")),
                )
    # variance-family accumulators with n<2 (or no numeric inputs) emit
    # VOID, not absent: the key stays with an empty value
    # (stats1_accumulators.go var/stddev/meaneb finalizers return void)
    for f_ in values:
        for a in accs:
            c = f"{f_}_{a}"
            if a in ("var", "stddev", "meaneb", "skewness", "kurtosis") \
                    and c in out.columns:
                col = F.col(c)
                out = out.withColumn(
                    c, F.when(col.isNull(), F.lit("")).otherwise(
                        col.cast("string"))
                )
    # restore Miller's column order f x acc; groups emit in first-seen
    # stream order (the reference accumulates into ordered maps)
    out = _group_ord(df, out, by)
    cols = by + [f"{f_}_{a}" for f_ in values for a in accs] + ["__ord"]
    return out.select(*[c for c in cols if c in out.columns])


def v_fraction(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-g": 1, "-p": 0, "-c": 0})
    by = _csl(fl["-g"]) if "-g" in fl else []
    d, passthrough = df, None
    if by:
        if any(b not in d.columns for b in by):
            raise Unsupported("fraction group key absent from schema")
        cond = None
        for b in by:
            c = F.col(b).isNotNull()
            cond = c if cond is None else (cond & c)
        passthrough = d.filter(~cond)
        d = d.filter(cond)
    for f_ in _csl(fl["-f"]):
        d = ev.fraction(d, f_, by=by, percent=bool(fl.get("-p")),
                        cumulative=bool(fl.get("-c")), order_by=["__ord"])
    if passthrough is not None:
        d = d.unionByName(passthrough, allowMissingColumns=True)
    return d


def v_top(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-n": 1, "-g": 1, "--min": 0, "--max": 0,
                          "-a": 0, "-F": 0, "-o": 1})
    n = int(fl.get("-n", 1))
    by = _csl(fl["-g"]) if "-g" in fl else []
    fields = _csl(fl["-f"])
    d = df
    for f_ in fields:  # lashed: all fields present
        if f_ not in d.columns:
            raise Unsupported("top absent field")
        d = d.filter(F.col(f_).isNotNull())
    for b in by:
        d = d.filter(F.col(b).isNotNull())
    if fl.get("-a"):
        # full records of the top-n rows (top.go: -a; single -f only);
        # emission: groups in first-seen order, keeper rank within
        if len(fields) != 1:
            raise Unsupported("top -a with multiple fields")
        t = ev.top(
            d, fields[0], n=n, by=by, use_min=bool(fl.get("--min")),
            show_full_records=True, tiebreak=["__ord"],
        )
        if by:
            gmin = d.groupBy(*by).agg(F.min("__ord").alias("__gm"))
            t = (
                t.drop("__ord").join(gmin, by)
                .withColumn(
                    "__ord",
                    F.col("__gm") * (1 << 20) + F.col("top_idx"),
                )
                .drop("__gm", "top_idx")
            )
        else:
            t = t.drop("__ord").withColumn(
                "__ord", F.col("top_idx").cast("long")
            ).drop("top_idx")
        return t
    out = None
    for f_ in fields:
        t = ev.top(d, f_, n=n, by=by, use_min=bool(fl.get("--min")), pad=True)
        # exactly n rows per group; short groups pad with Miller VOID
        # (top.go emit: `newrec.PutCopy(key, mlrval.VOID)`) — stringify
        # so "" can live in the value column (floats re-scan at render)
        t = t.withColumn(
            f"{f_}_top",
            F.coalesce(F.col(f"{f_}_top").cast("string"), F.lit("")),
        )
        if "-o" in fl:
            t = t.withColumnRenamed(f"{f_}_top", fl["-o"])
        out = t if out is None else out.join(t, [*by, "top_idx"])
    if by:
        mins = d.groupBy(*by).agg(F.min("__ord").alias("__m"))
        from pyspark.sql import Window as _W

        out = (
            out.join(mins, by, "left")
            .withColumn(
                "__ord",
                F.row_number().over(_W.orderBy(F.col("__m").asc(), F.col("top_idx").asc())),
            )
            .drop("__m")
        )
    else:
        out = out.withColumn("__ord", F.col("top_idx").cast("long"))
    return out


import threading as _threading

_TLS = _threading.local()  # per-case context (cases run 8-way in tests)


def _flatsep() -> str:
    return getattr(_TLS, "flatsep", ".")


def _native_json_records():
    """The parsed nested typed records, when a restructuring verb can
    additionally feed the byte-render path natively: it must be the
    LAST verb, over an untouched stream, with JSON/JSONL input (where
    the reference's records carry real nesting the flat canonical form
    cannot express)."""
    if not getattr(_TLS, "chain_is_last", False):
        return None
    if not getattr(_TLS, "df_pristine", False):
        return None
    if getattr(_TLS, "ifmt", "dkvp") not in ("json", "jsonl"):
        return None
    if getattr(_TLS, "ofmt", "dkvp") not in ("json", "jsonl"):
        # non-nestable output auto-flattens at write: the flat carrier
        # channel is already the right shape
        return None
    nested = getattr(_TLS, "orig_json", [])
    orig = getattr(_TLS, "orig_records", [])
    if not nested or len(nested) != len(orig):
        return None
    return nested


def _flatten_typed(out: dict, key: str, v, sep: str):
    """Explicit-flatten semantics on NATIVE values (FlattenToMap,
    mlrval_accessors.go:30-80): nested spread, 1-based array indices,
    empty collections -> literal "{}" / "[]" strings, scalars typed."""
    if isinstance(v, dict):
        if not v:
            out[key] = "{}"
            return
        for k2, v2 in v.items():
            from mlrsketch.dsl import interp as MI

            _flatten_typed(out, f"{key}{sep}{MI.format_value(k2)}", v2, sep)
        return
    if isinstance(v, list):
        if not v:
            out[key] = "[]"
            return
        for i, v2 in enumerate(v):
            _flatten_typed(out, f"{key}{sep}{i + 1}", v2, sep)
        return
    out[key] = v


def v_flatten(df, argv):
    # records are kept in flattened canonical form (separator =
    # --flatsep, default ".") on both sides of the compare, so flatten
    # with the canonical separator is the identity; `flatten -s X`
    # re-flattens with X, i.e. renames canonical-sep -> X
    fl, _ = _flags(argv, {"-f": 1, "-s": 1})
    sep, canon = fl.get("-s"), _flatsep()
    nat = _native_json_records()
    if nat is not None:
        # JSON in / JSON out with explicit flatten: only the requested
        # fields flatten; everything else keeps its REAL nesting
        # (DecideFinalUnflatten: last-verb flatten disables the final
        # unflatten — cli/flatten_unflatten.go:83-98)
        fields = set(_csl(fl["-f"])) if "-f" in fl else None
        out_recs = []
        for r in nat:
            out: dict = {}
            for k, v in r.items():
                if isinstance(v, (dict, list)) and (
                    fields is None or k in fields
                ):
                    _flatten_typed(out, str(k), v, sep or canon)
                else:
                    out[k] = v
            out_recs.append(out)
        _TLS.render_records = out_recs
        _TLS.render_opts["json_typed"] = True
        _TLS.render_opts["no_unflatten"] = True
    if sep and sep != canon:
        df = df.withColumnsRenamed(
            {c: c.replace(canon, sep) for c in df.columns if canon in c and not c.startswith("__")}
        )
        if "__keys" in df.columns:
            # the per-record key-order carrier must rename too, or the
            # renamed columns fall out of the original emission order
            df = df.withColumn(
                "__keys",
                F.transform(
                    "__keys",
                    lambda k: F.regexp_replace(k, _re.escape(canon), sep.replace("\\", "\\\\").replace("$", "\\$")),
                ),
            )
        return df
    return df


def v_unflatten(df, argv):
    # inverse of flatten under the flattened canonical form: identity
    # for the canonical separator; `unflatten -s X` nests keys on X,
    # i.e. renames X -> the canonical separator
    fl, _ = _flags(argv, {"-f": 1, "-s": 1})
    sep, canon = fl.get("-s"), _flatsep()
    if sep and sep != canon:
        df = df.withColumnsRenamed(
            {c: c.replace(sep, canon) for c in df.columns if sep in c and not c.startswith("__")}
        )
        if "__keys" in df.columns:
            df = df.withColumn(
                "__keys",
                F.transform(
                    "__keys",
                    lambda k: F.regexp_replace(k, _re.escape(sep), canon.replace("\\", "\\\\").replace("$", "\\$")),
                ),
            )
        return df
    return df


def v_json_parse(df, argv):
    """`mlr json-parse -f x`: the JSON text in x becomes nested values —
    flattened here to x.k columns (canonical form). Test-scale driver
    parse + rebuild."""
    import json as _json

    fl, _ = _flags(argv, {"-f": 1, "-k": 0})
    fields = _csl(fl["-f"]) if "-f" in fl else None
    nat = _native_json_records()
    if nat is not None:
        from mlrsketch.dsl import interp as MI

        out_recs = []
        for r in nat:
            rec = {}
            for k, v in r.items():
                if (fields is None or k in fields) and isinstance(v, str):
                    try:
                        rec[k] = _json.loads(v)
                    except ValueError:
                        rec[k] = v if fl.get("-k") else MI.Err("json_decode")
                else:
                    rec[k] = v
            out_recs.append(rec)
        _TLS.render_records = out_recs
        _TLS.render_opts["json_typed"] = True
        _TLS.render_opts["no_unflatten"] = True
    rows = df.orderBy("__ord").collect()
    recs = []
    for r in rows:
        rec = {}
        for k, v in r.asDict().items():
            if k.startswith("__"):
                continue
            if (fields is None or k in fields) and isinstance(v, str):
                try:
                    parsed = _json.loads(v)
                except ValueError:
                    # unparseable: MT_ERROR value (or original with -k).
                    # \x02 marks error-as-value in the flat string
                    # carrier: the json writer prints the token BARE
                    # (mlrval_json.go: invalid JSON by design), text
                    # writers print it plain
                    rec[k] = v if fl.get("-k") else "\x02(error)"
                    continue
                _flatten_json_value(rec, k, parsed, ".")
            elif v is not None:
                rec[k] = str(v)
        recs.append(rec)
    if not recs:
        return df
    to_df = run_case.__globals__.get("_TO_DF")
    return to_df(df.sparkSession, recs, infer=True)


def _unflatten_rebuild(kv: dict, prefix: str):
    """Rebuild the nested JSON value for `prefix` from canonical dotted
    columns: {"req.id": "6789", "req.headers.host": "x"} -> nested dict;
    consecutive 1-based integer keys -> list; "{}"/"[]" -> empty
    containers; numeric-looking leaves re-infer as numbers."""
    def leaf(v):
        if v == "{}":
            return {}
        if v == "[]":
            return []
        if v in ("true", "false"):
            return v == "true"
        t = _mlr_value_type(v)
        if t == "int" and isinstance(v, str):
            return int(v)
        if t == "float" and isinstance(v, str):
            return float(v)
        return v

    sub = {k[len(prefix) + 1:]: v for k, v in kv.items() if k.startswith(prefix + ".")}
    if not sub:
        return leaf(kv[prefix])
    tree: dict = {}
    for k, v in sub.items():
        parts = k.split(".")
        cur = tree
        for p in parts[:-1]:
            cur = cur.setdefault(p, {})
        cur[parts[-1]] = leaf(v)

    def listify(node):
        if not isinstance(node, dict):
            return node
        node = {k: listify(v) for k, v in node.items()}
        keys = list(node)
        if keys and all(_re.fullmatch(r"\d+", k) for k in keys) and sorted(
            int(k) for k in keys
        ) == list(range(1, len(keys) + 1)):
            return [node[str(i)] for i in range(1, len(keys) + 1)]
        return node

    return listify(tree)


def v_json_stringify(df, argv):
    """`mlr json-stringify [-f fields] [--jvstack]`: values become their
    JSON text (single-line by default, indent-2 with --jvstack)."""
    import json as _json

    fl, _ = _flags(argv, {"-f": 1, "--jvstack": 0, "--no-jvstack": 0})
    fields = _csl(fl["-f"]) if "-f" in fl else None
    indent = 2 if fl.get("--jvstack") else None
    nat = _native_json_records()
    if nat is not None:
        # native byte channel: every (selected) value becomes its JSON
        # text — a REAL string the json writer must keep quoted
        from mlrsketch.dsl import interp as MI

        _TLS.render_records = [
            {
                k: (MI.json_encode(v, indent=indent)
                    if fields is None or k in fields else v)
                for k, v in r.items()
            }
            for r in nat
        ]
        _TLS.render_opts["json_typed"] = True
        _TLS.render_opts["no_unflatten"] = True
    rows = df.orderBy("__ord").collect()
    recs = []
    for r in rows:
        d = {k: v for k, v in r.asDict().items() if not k.startswith("__") and v is not None}
        tops: dict[str, dict] = {}
        for k in d:
            tops.setdefault(k.split(".", 1)[0], {})[k] = str(d[k])
        rec = {}
        for top, kv in tops.items():
            if fields is not None and top not in fields:
                rec.update(kv)
                continue
            obj = _unflatten_rebuild(kv, top)
            rec[top] = _json.dumps(obj, indent=indent)
        recs.append(rec)
    to_df = run_case.__globals__.get("_TO_DF")
    return to_df(df.sparkSession, recs, infer=False, keep_void=True)


def _mlr_value_type(v) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "int" if v == int(v) and "e" not in repr(v) else "float"
    s = str(v)
    if s == "":
        return "empty"
    if _re.fullmatch(r"-?\d+", s):
        return "int"
    if _re.fullmatch(r"-?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?", s):
        return "float"
    return "string"


def v_describe(df, argv):
    """`mlr describe [-n max]` (describe.go): per-field type counts,
    presence counts, min/max, first-seen distinct values. Driver-side in
    the runner (tiny profile table); output in flattened canonical form
    (types.int, values.1, ...)."""
    fl, _ = _flags(argv, {"-n": 1, "--max-values": 1})
    maxv = int(fl.get("-n", fl.get("--max-values", 20)))
    rows = df.orderBy("__ord").collect()
    cols = [c for c in df.columns if not c.startswith("__")]

    def fmt(v):
        if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
            return int(v)
        return v

    recs = []
    for c in cols:
        vals = [r[c] for r in rows if r[c] is not None]
        if not vals:
            continue
        rec = {"field_name": c}
        tcounts: dict[str, int] = {}
        for v in vals:
            t = _mlr_value_type(v)
            tcounts[t] = tcounts.get(t, 0) + 1
        for t, n in tcounts.items():
            rec[f"types.{t}"] = str(n)
        rec["count"] = str(len(vals))
        rec["null_count"] = str(sum(1 for v in vals if str(v) == ""))
        distinct = []
        seen = set()
        for v in vals:
            k = str(fmt(v))
            if k not in seen:
                seen.add(k)
                distinct.append(fmt(v))
        rec["distinct_count"] = str(len(distinct))

        def as_num(v):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return v
            t = _mlr_value_type(v)
            if t == "int":
                return int(v)  # int spelling stays int (prints bare)
            if t == "float":
                return float(v)
            return None

        nums = [as_num(v) for v in distinct if as_num(v) is not None]
        strs = sorted(str(v) for v in distinct if as_num(v) is None)
        coll = sorted(nums) + strs
        rec["min"] = str(coll[0]) if coll else None
        rec["max"] = str(coll[-1]) if coll else None
        if maxv > 0 and len(distinct) <= maxv:
            for i, v in enumerate(distinct):
                rec[f"values.{i + 1}"] = str(v)
        recs.append(rec)
    spark = df.sparkSession
    to_df = run_case.__globals__.get("_TO_DF")
    # infer=False: the profile values are already print-form strings;
    # union-schema re-inference would coerce int spellings to double
    # when another field's values share the column (verb-describe/het:
    # values.6 holds i's "6" AND x's "0.527..." -> double -> "6.000...")
    out = to_df(spark, recs, infer=False, keep_void=True)
    return out


_SUMMARY_ALL = [
    "field_type", "count", "null_count", "distinct_count", "mode", "sum",
    "mean", "stddev", "var", "skewness", "minlen", "maxlen", "min",
    "p25", "median", "p75", "max", "iqr", "lof", "lif", "uif", "uof",
]
_SUMMARY_DEFAULT = [
    "field_type", "count", "null_count", "distinct_count", "mean", "min", "max",
]


def v_summary(df, argv):
    """`mlr summary` (summary.go): per-field profile, driver-side in the
    runner (the tiny profile table is inherently collected; the
    library's distributed profile is mlrsketch.verbs.exact.summary).
    Mixed-type collation: numbers sort before strings."""
    fl, _ = _flags(argv, {"--all": 0, "-a": 1, "-x": 1, "--transpose": 0})
    if fl.get("--all"):
        stats = list(_SUMMARY_ALL)
    elif "-a" in fl:
        inc = set(_csl(fl["-a"]))
        stats = [s for s in _SUMMARY_ALL if s in inc]
    elif "-x" in fl:
        exc = set(_csl(fl["-x"]))
        stats = [s for s in _SUMMARY_ALL if s not in exc]
    else:
        stats = list(_SUMMARY_DEFAULT)

    import math

    rows = df.orderBy("__ord").collect()
    cols = [c for c in df.columns if not c.startswith("__")]
    dtypes = dict(df.dtypes)
    tmap = {"bigint": "int", "int": "int", "double": "float", "float": "float"}

    def fmt(v):
        if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
            return int(v)
        return v

    profiles = []
    for c in cols:
        vals = [r[c] for r in rows if r[c] is not None]
        nums = [v for v in vals if isinstance(v, (int, float)) and not isinstance(v, bool)]
        strs = [v for v in vals if not isinstance(v, (int, float)) or isinstance(v, bool)]
        coll = sorted(nums) + sorted(str(s) for s in strs)  # Miller collation
        n = len(vals)
        p = {"field_name": c, "field_type": tmap.get(dtypes[c], "string")}

        def pick(pq):
            if not coll:
                return None
            i = min(max(int(pq / 100.0 * len(coll)), 0), len(coll) - 1)
            return coll[i]

        p["count"] = n
        p["null_count"] = len(rows) - n
        p["distinct_count"] = len({str(v) for v in vals})
        if vals:
            counts: dict[str, int] = {}
            first_val = {}
            for v in vals:
                k = str(v)
                counts[k] = counts.get(k, 0) + 1
                first_val.setdefault(k, v)
            # first-seen wins ties: scan in insertion (stream) order
            bc = max(counts.values())
            p["mode"] = fmt(first_val[next(k for k in counts if counts[k] == bc)])
        else:
            p["mode"] = None
        p["sum"] = fmt(float(sum(nums)))
        if nums:
            mean = sum(nums) / len(nums)
            p["mean"] = mean
            if len(nums) > 1:
                var = sum((v - mean) ** 2 for v in nums) / (len(nums) - 1)
                p["var"] = var
                p["stddev"] = math.sqrt(var)
                s2 = sum(v * v for v in nums)
                s3 = sum(v ** 3 for v in nums)
                nn_ = float(len(nums))
                num_ = (s3 - mean * (3.0 * s2 - 2.0 * nn_ * mean * mean)) / nn_
                p["skewness"] = num_ / (var ** 1.5) if var > 0 else None
            else:
                p["var"] = p["stddev"] = p["skewness"] = None
        else:
            p["mean"] = p["var"] = p["stddev"] = p["skewness"] = None
        lens = [len(str(fmt(v))) for v in vals]
        p["minlen"] = min(lens) if lens else None
        p["maxlen"] = max(lens) if lens else None
        p["min"] = fmt(coll[0]) if coll else None
        p["max"] = fmt(coll[-1]) if coll else None
        for q, name in ((25, "p25"), (50, "median"), (75, "p75")):
            p[name] = fmt(pick(q))
        if nums and len(nums) == len(vals):
            q1, q3 = pick(25), pick(75)
            iqr = q3 - q1
            p["iqr"] = iqr
            p["lof"] = q1 - 3.0 * iqr
            p["lif"] = q1 - 1.5 * iqr
            p["uif"] = q3 + 1.5 * iqr
            p["uof"] = q3 + 3.0 * iqr
        else:
            p["iqr"] = p["lof"] = p["lif"] = p["uif"] = p["uof"] = None
        profiles.append(p)

    spark = df.sparkSession
    from pyspark.sql.types import StringType, StructField, StructType

    order = ["field_name"] + (list(cols) if fl.get("--transpose") else stats)
    # non-applicable stats emit VOID (reference summary.go keeps ONE
    # uniform key set per field record; pprint renders "" as "-"):
    # golden verb-summary/default — string fields carry mean="" etc.
    if fl.get("--transpose"):
        recs = []
        for s in stats:
            rec = {"field_name": s}
            for p in profiles:
                rec[p["field_name"]] = "" if p[s] is None else str(p[s])
            recs.append(rec)
    else:
        recs = [
            {"field_name": p["field_name"],
             **{s: "" if p[s] is None else str(p[s]) for s in stats}}
            for p in profiles
        ]
    schema = StructType([StructField(c, StringType()) for c in order])
    out = spark.createDataFrame([[r.get(c) for c in order] for r in recs], schema)
    return out.withColumn("__ord", F.monotonically_increasing_id())


def v_rank(df, argv):
    """`mlr rank -f ... [-g ...]` (rank.go:22): append {f}_rank per field,
    competition ranking (1,2,2,4), original record order preserved.
    Records missing a group key get no rank fields; records missing the
    ranked field get no rank for that field."""
    from pyspark.sql import Window as W

    fl, _ = _flags(argv, {"-f": 1, "-g": 1, "--sorted": 0})
    fields = [f_ for f_ in _csl(fl["-f"]) if f_ in df.columns]
    by = _csl(fl["-g"]) if "-g" in fl else []
    if any(b not in df.columns for b in by):
        return df
    out = df
    for f_ in fields:
        w = (W.partitionBy(*by) if by else W.partitionBy()).orderBy(
            F.col(f_).asc_nulls_last()
        )
        grp_ok = F.lit(True)
        for b in by:
            grp_ok = grp_ok & F.col(b).isNotNull()
        out = out.withColumn(
            f"{f_}_rank",
            F.when(F.col(f_).isNotNull() & grp_ok, F.rank().over(w)),
        )
    return out


def v_gap(df, argv):
    fl, _ = _flags(argv, {"-n": 1, "-g": 1})
    # presentation-only: invisible to the record compare, but the text
    # writers honor it (blank line / batch flush every n records or on
    # group change — gap.go:157,178)
    if "-g" in fl:
        _TLS.render_opts["gap_keys"] = _csl(fl["-g"])
    elif "-n" in fl:
        _TLS.render_opts["gap_n"] = int(fl["-n"])
    return df


def v_tee(df, argv):
    # `mlr tee [-a|-p] [-o fmt] FILE` (tee.go): copy the stream AT THIS
    # POINT IN THE CHAIN to a file (format from -o, else the main output
    # format), pass records through unchanged. -p (pipe to a command) is
    # out of surface. Driver-side at CLI test scale.
    fl, pos = _flags(argv, {"-a": 0, "-p": 0, "-o": 1, "--no-fflush": 0})
    if len(pos) != 1:
        raise Unsupported("tee without filename")
    if fl.get("-p"):
        raise Unsupported("tee -p (pipe)")
    ofmt = fl.get("-o") or getattr(_TLS, "ofmt", "dkvp")
    _write_records_file(_df_records(df), pos[0], ofmt,
                        append=bool(fl.get("-a")))
    return df


def v_group_by(df, argv):
    # group-by.go: records MISSING any group field are dropped; groups
    # emit in first-occurrence order, stream order within each group
    from pyspark.sql import Window as W

    _, pos = _flags(argv, {})
    by = _csl(pos[0])
    if any(b not in df.columns for b in by):
        return df.limit(0)
    d = df
    for b in by:
        d = d.filter(F.col(b).isNotNull())
    d = d.withColumn("__g", F.min("__ord").over(W.partitionBy(*by)))
    return (
        d.orderBy("__g", "__ord")
        .withColumn("__ord", F.monotonically_increasing_id())
        .drop("__g")
    )


def v_unspace(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-k": 0, "-v": 0})
    fill = fl.get("-f", "_")
    values_too = not fl.get("-k")
    keys_too = not fl.get("-v")
    out = df
    if keys_too:
        renames = {c: c.replace(" ", fill) for c in out.columns if " " in c}
        if renames:
            out = out.withColumnsRenamed(renames)
    if values_too:
        out = out.withColumns(
            {
                c: F.regexp_replace(F.col(c), " ", fill)
                for c, t in out.dtypes
                if t == "string" and not c.startswith("__")
            }
        )
    return out


def v_altkv(df, argv):
    """`mlr altkv` (altkv.go:18): values v1,v2,v3,v4 -> {v1:v2, v3:v4}.
    Keys come from DATA, so the output schema is discovered by a first
    pass over the (test-scale) pair sets, then built as one projection."""
    _flags(argv, {})
    cols = [c for c in df.columns if not c.startswith("__")]
    ks = [F.col(c).cast("string") for c in cols[0::2]]
    vs = [F.col(c).cast("string") for c in cols[1::2]]
    if len(ks) > len(vs):
        # odd field count: the leftover value keeps its pair-index as key
        # (altkv.go: "4"=g for the 7th of 7 values)
        ks[-1] = F.lit(str(len(ks)))
        vs.append(F.col(cols[-1]).cast("string"))
    pairs = df.select("__ord", F.map_from_arrays(F.array(*ks), F.array(*vs)).alias("__m"))
    keys: list[str] = []
    for r in pairs.select("__ord", F.map_keys("__m").alias("k")).orderBy("__ord").collect():
        for k in r["k"]:
            if k not in keys:
                keys.append(k)  # first-seen stream order (altkv.go)
    return pairs.select(
        "__ord",
        F.map_keys("__m").alias("__keys"),
        *[F.col("__m").getItem(k).alias(k) for k in keys],
    )


def v_remove_empty_columns(df, argv):
    _flags(argv, {})
    return ev.remove_empty_columns(df)


def v_sparsify(df, argv):
    """`mlr sparsify [-s filler] [-f fields]`: remove fields whose value
    is the filler (default "") — under the fixed schema, removal == null."""
    fl, _ = _flags(argv, {"-s": 1, "-f": 1})
    filler = fl.get("-s", "")
    fields = [
        f_ for f_ in (
            _csl(fl["-f"]) if "-f" in fl
            else [c for c in df.columns if not c.startswith("__")]
        )
        if f_ in df.columns and not f_.startswith("__")
    ]
    if "__keys" in df.columns and fields:
        # removal must leave the per-record key-order carrier too, or
        # void restoration resurrects the dropped key as `k=`. Carrier
        # voids are null — they match the default "" filler. Rewrite
        # __keys FIRST (its own projection): withColumns would resolve
        # the value map against the already-nulled columns.
        cols = [c for c in df.columns if not c.startswith("__")]
        valmap = F.create_map(
            *[x for c in cols for x in (F.lit(c), F.col(c).cast("string"))]
        )
        fset = F.array(*[F.lit(f_) for f_ in fields])
        df = df.withColumn(
            "__keys",
            F.filter(
                F.col("__keys"),
                lambda k: ~(
                    F.array_contains(fset, k)
                    & (F.coalesce(F.element_at(valmap, k), F.lit(""))
                       == F.lit(filler))
                ),
            ),
        )
    return df.withColumns({
        f_: F.when(F.col(f_).cast("string") == filler, None).otherwise(F.col(f_))
        for f_ in fields
    })


def _go_fmt_to_java(fmt: str) -> str:
    """Translate a Go printf format (with ll/l length modifiers) to a
    java.lang.String.format one Spark's format_string accepts."""
    out = fmt.replace("lld", "d").replace("llx", "x").replace("llX", "X").replace("llo", "o")
    out = _re.sub(r"%([#0\- +]*[0-9.]*)l*([defgxXo])", r"%\1\2", out)
    return out


def v_format_values(df, argv):
    """`mlr format-values [-i ifmt] [-f ffmt] [-s sfmt] [-n]`
    (format_values.go:26): per-type printf formatting. Type is Miller's
    per-value inference; on the typed frame, int columns get ifmt,
    doubles ffmt, strings sfmt."""
    fl, _ = _flags(argv, {"-i": 1, "-f": 1, "-s": 1, "-n": 0})
    ifmt = _go_fmt_to_java(fl.get("-i", "%d"))
    ffmt = _go_fmt_to_java(fl.get("-f", "%f"))
    sfmt = _go_fmt_to_java(fl.get("-s", "%s"))
    coerce_int = bool(fl.get("-n"))
    updates = {}
    for c, t in df.dtypes:
        if c.startswith("__"):
            continue
        if t in ("bigint", "int", "smallint", "tinyint"):
            col = F.col('`' + c + '`').cast("double" if coerce_int else "long")
            fmtc = ffmt if coerce_int else ifmt
            updates[c] = F.when(col.isNotNull(), F.format_string(fmtc, col))
        elif t in ("double", "float"):
            # Miller re-infers per value: an integral double prints via ifmt
            c_ = F.col('`' + c + '`')
            if coerce_int:
                updates[c] = F.when(c_.isNotNull(), F.format_string(ffmt, c_))
            else:
                updates[c] = F.when(
                    c_.isNotNull() & (c_ == F.floor(c_)),
                    F.format_string(ifmt, c_.cast("long")),
                ).otherwise(F.when(c_.isNotNull(), F.format_string(ffmt, c_)))
        elif t == "string":
            # per-value inference on string columns: numeric-looking
            # values get the numeric formats
            s = F.col('`' + c + '`')
            as_long = s.try_cast("long")
            as_dbl = s.try_cast("double")
            ic = as_dbl.cast("double" if coerce_int else "long")
            int_fmt = ffmt if coerce_int else ifmt
            updates[c] = (
                F.when(s.isNull(), None)
                .when(as_long.isNotNull(), F.format_string(int_fmt, ic))
                .when(as_dbl.isNotNull(), F.format_string(ffmt, as_dbl))
                .otherwise(F.format_string(sfmt, s))
            )
    if getattr(_TLS, "ofmt", "dkvp") in ("json", "jsonl"):
        # the reference re-infers each formatted value (FromInferredType),
        # and its JSON writer renders int mlrvals as DECIMAL numbers —
        # a 0x%x-formatted int prints as plain decimal again
        # (verb-format-values/0003)
        def _json_reinfer(e):
            hexd = F.regexp_extract(e, r"^([+-]?)0[xX]([0-9a-fA-F]{1,15})$", 2)
            bind = F.regexp_extract(e, r"^([+-]?)0[bB]([01]{1,62})$", 2)
            neg = e.rlike(r"^-")
            def dec(digits, base):
                d = F.conv(digits, base, 10)
                return F.when(neg, F.concat(F.lit("-"), d)).otherwise(d)
            return (
                F.when(hexd != "", dec(hexd, 16))
                .when(bind != "", dec(bind, 2))
                .otherwise(e)
            )
        updates = {c: _json_reinfer(e) for c, e in updates.items()}
    return df.withColumns(updates)


def v_most_frequent(df, argv, descending=True):
    fl, _ = _flags(argv, {"-f": 1, "-b": 0, "-n": 1, "-o": 1})
    fields = _csl(fl["-f"])
    if any(f_ not in df.columns for f_ in fields):
        # most_frequent.go: records missing a -f field form no bucket;
        # a field no record has => empty output
        return df.limit(0)
    # the reference stable-sorts the ordered count map: ties keep
    # FIRST-SEEN order (most_or_least_frequent.go SortStableFunc)
    from pyspark.sql import Window as _W

    counted = df.groupBy(*fields).agg(
        F.count(F.lit(1)).alias("count"), F.min("__ord").alias("__m")
    )
    order = [
        F.col("count").desc() if descending else F.col("count").asc(),
        F.col("__m").asc(),
    ]
    out = (
        counted.withColumn("__ord", F.row_number().over(_W.orderBy(*order)))
        .filter(F.col("__ord") <= int(fl.get("-n", 10)))
        .drop("__m")
    )
    if fl.get("-b"):
        out = out.drop("count")
    elif "-o" in fl:
        out = out.withColumnRenamed("count", fl["-o"])
    return out


def v_decimate(df, argv):
    fl, _ = _flags(argv, {"-n": 1, "-b": 0, "-e": 0, "-g": 1})
    return ev.decimate(
        df, int(fl.get("-n", 10)), order_by=["__ord"],
        by=_csl(fl["-g"]) if "-g" in fl else (), keep_first=bool(fl.get("-b")),
    )


def v_fill_down(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-a": 0, "--all": 0, "--only-if-absent": 0})
    only_if_absent = bool(fl.get("-a") or fl.get("--only-if-absent"))
    if fl.get("--all"):
        if only_if_absent:
            return df  # --all -a: every iterated field is present => no-op
        fields = [f_ for f_ in df.columns if not f_.startswith("__")]
        return ev.fill_down(df, fields, order_by=["__ord"], only_voids=True)
    fields = [f_ for f_ in _csl(fl["-f"]) if not f_.startswith("__") and f_ in df.columns]
    if not fields:
        return df  # fill-down on absent fields: records pass through
    return ev.fill_down(df, fields, order_by=["__ord"], only_if_absent=only_if_absent)


def v_fill_empty(df, argv):
    # "-Sv X" is accepted by the reference as -S -v X
    expanded = []
    for a in argv:
        expanded.extend(["-S", "-v"] if a == "-Sv" else [a])
    fl, _ = _flags(expanded, {"-v": 1, "-S": 0, "--only-if-all-blank": 0})
    if fl.get("--only-if-all-blank"):
        raise Unsupported(" --only-if-all-blank")
    fill = str(fl.get("-v", "N/A"))
    if fl.get("-S"):
        # fill_empty.go:70-76: -S inserts an mlrval STRING — scan
        # inference must not retype it (typeof stays "string"). The
        # fixed-schema mapping can't tag one cell, so prefix the \x00
        # forced-string sentinel: infer_value() unwraps it and the
        # final collection strips it.
        fill = "\x00" + fill
        _TLS.has_forced_str = True
    return ev.fill_empty(df, fill=fill)


def v_grep(df, argv):
    fl, pos = _flags(argv, {"-v": 0, "-i": 0, "-a": 0, "-o": 0})
    if len(pos) != 1 or fl.get("-o"):
        raise Unsupported("grep form")
    pat = pos[0]
    cols = [c for c in df.columns if not c.startswith("__")]
    if fl.get("-a"):
        # values only: NIDX string = values joined by spaces (grep.go)
        ser = F.concat_ws(" ", *[F.col(c).cast("string") for c in cols])
    else:
        ser = F.concat_ws(",", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in cols])
    cond = ser.rlike(f"(?i){pat}" if fl.get("-i") else pat)
    return df.filter(~cond if fl.get("-v") else cond)


def v_rename(df, argv):
    fl, pos = _flags(argv, {"-r": 0, "-g": 0})
    if fl:
        raise Unsupported("rename -r/-g")
    parts = _csl(pos[0])
    mapping = {parts[i]: parts[i + 1] for i in range(0, len(parts), 2) if parts[i] in df.columns}
    if mapping and "__keys" in df.columns:
        df = df.withColumn("__keys", _keys_rename_col(mapping)(F.col("__keys")))
    return ev.rename_fields(df, mapping)


def v_label(df, argv):
    _, pos = _flags(argv, {})
    names = _csl(pos[0])
    data_cols = [c for c in df.columns if not c.startswith("__")]
    internals = [c for c in df.columns if c.startswith("__")]
    mapping = dict(zip(data_cols, names[: len(data_cols)]))
    if "__keys" in df.columns:
        # label renames the first n keys POSITIONALLY in schema order;
        # rewrite each record's key order through the same mapping
        df = df.withColumn("__keys", _keys_rename_col(mapping)(F.col("__keys")))
    # data cols first so the positional rename can't touch the internal
    # order/key-order carriers riding at the tail
    return ev.label(df.select(*data_cols, *internals), names[: len(data_cols)])


def v_sort_within_records(df, argv):
    """sort_within_records.go: rewrite each record's key ORDER only
    (values untouched, order carried in __keys). With -f names or
    -r regex, the MATCHING keys sort among themselves and move to the
    record FRONT; the rest keep their order (transformSelective,
    :241-270). No selector sorts all keys; bare -r (no regex arg)
    additionally sorts subobjects — on the flattened carrier the
    lexical sort of dotted paths is that recursion. -f ... -r treats
    the names as regexes (:74-87). -n = natural order."""
    fields, regexes, natural, bare_r = None, [], False, False
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "-f":
            fields = _csl(argv[i + 1])
            i += 2
        elif a == "-r":
            # arity 0 or 1: consume a regex unless the next token is a
            # flag (sort_within_records.go:74-87)
            if i + 1 < len(argv) and not argv[i + 1].startswith("-"):
                regexes.append(argv[i + 1])
                i += 2
            else:
                bare_r = True
                i += 1
        elif a == "-n":
            natural = True
            i += 1
        else:
            raise Unsupported(f"sort-within-records flag {a}")
    if fields is not None and bare_r:
        regexes, fields = list(fields), None

    def ci(p):
        # Miller "..."i case-insensitive regex spelling
        if len(p) > 2 and p.endswith('"i') and p.startswith('"'):
            return "(?i)" + p[1:-2]
        return p.strip('"')

    def sel(k):
        if fields is not None:
            return k.isin(*fields) if fields else F.lit(False)
        if regexes:
            m = F.lit(False)
            for p in regexes:
                m = m | k.rlike(ci(p))
            return m
        return F.lit(True)

    def sort_arr(arr):
        if not natural:
            return F.array_sort(arr)
        st = F.transform(
            arr,
            lambda k: F.struct(
                ev._natural_sort_key(k).alias("nk"), k.alias("k")
            ),
        )
        return F.transform(F.array_sort(st), lambda s: s["k"])

    if "__keys" not in df.columns:
        data = [c for c in df.columns if not c.startswith("__")]
        import re as _re_

        def py_sel(k):
            if fields is not None:
                return k in fields
            if regexes:
                return any(_re_.search(p.strip('"'), k) for p in regexes)
            return True

        def py_key(k):
            if not natural:
                return k
            return _re_.sub(
                r"\d+", lambda m: m.group(0).rjust(20, "0"), k
            )

        hit = sorted([c for c in data if py_sel(c)], key=py_key)
        rest = [c for c in data if not py_sel(c)]
        return df.select(
            *hit, *rest, *[c for c in df.columns if c.startswith("__")]
        )
    keys = F.col("__keys")
    new = F.concat(sort_arr(F.filter(keys, sel)),
                   F.filter(keys, lambda k: ~sel(k)))
    return df.withColumn("__keys", new)


def _keys_rename_col(mapping: dict):
    """Column fn: rewrite entries of __keys through a rename mapping."""
    def one(k):
        e = None
        for old, new in mapping.items():
            cond = k == F.lit(old)
            e = F.when(cond, F.lit(new)) if e is None else e.when(cond, F.lit(new))
        return e.otherwise(k) if e is not None else k
    return lambda arr: F.transform(arr, one)


def _keys_reorder(df, fields, to_end=False):
    """Update per-record key order for `reorder`: listed fields move to
    the front (or end with -e) in the given order; the rest keep their
    record order."""
    if "__keys" not in df.columns or not fields:
        return df
    arr = F.array(*[F.lit(x) for x in fields])
    inter = F.array_intersect(arr, F.col("__keys"))
    rest = F.array_except(F.col("__keys"), arr)
    new = F.concat(rest, inter) if to_end else F.concat(inter, rest)
    return df.withColumn("__keys", new)


def v_reorder(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-e": 0, "-a": 1, "-b": 1, "-r": 1})
    if "-r" in fl:
        # regex groups move to front (or end with -e), grouped by regex
        # order; within each group fields keep record order
        pats = _regexes(_csl(fl["-r"]))
        cols = [c for c in df.columns if not c.startswith("__")]
        anchor = fl.get("-a") or fl.get("-b")
        if anchor:
            # reorderBeforeOrAfterWithRegex (reorder.go:366-404): per
            # record, matched fields (grouped by regex order, record
            # order within) move next to the center field; records
            # without the center pass through unchanged. Pure __keys
            # permutation — values untouched.
            specs = [(p.pattern, p.flags) for p in pats]
            put_after = "-a" in fl

            def rework(keys):
                if not keys or anchor not in keys:
                    return keys
                compiled = [_re.compile(p, f) for p, f in specs]
                matched: list = []
                for p in compiled:
                    for k in keys:
                        if k != anchor and k not in matched and p.search(k):
                            matched.append(k)
                out = []
                for k in keys:
                    if k == anchor:
                        if put_after:
                            out.append(k)
                            out.extend(matched)
                        else:
                            out.extend(matched)
                            out.append(k)
                    elif k not in matched:
                        out.append(k)
                return out

            from pyspark.sql.types import ArrayType, StringType
            ud = F.udf(python_task(rework), ArrayType(StringType()))
            if "__keys" not in df.columns:
                df = df.withColumn(
                    "__keys", F.array(*[F.lit(c) for c in cols])
                )
            return df.withColumn("__keys", ud("__keys"))
        moved: list[str] = []
        for p in pats:
            moved += [c for c in cols if p.search(c) and c not in moved]
        if not moved:
            return df
        df = _keys_reorder(df, moved, to_end=bool(fl.get("-e")))
        return ev.reorder(df, back=moved) if fl.get("-e") else ev.reorder(df, front=moved)
    fields = [f_ for f_ in _csl(fl["-f"]) if f_ in df.columns]
    if not fields:
        return df  # nothing to move: pure pass-through
    anchor = fl.get("-a") or fl.get("-b")
    if anchor:
        if anchor not in df.columns or anchor in fields:
            return df
        rest = [c for c in df.columns if c not in fields]
        idx = rest.index(anchor)
        pos = idx + 1 if "-a" in fl else idx
        ordered_cols = rest[:pos] + fields + rest[pos:]
        if "__keys" in df.columns:
            df = df.drop("__keys")  # anchored insert: schema order rules
            ordered_cols = [c for c in ordered_cols if c != "__keys"]
        return df.select(*ordered_cols)
    df = _keys_reorder(df, fields, to_end=bool(fl.get("-e")))
    return ev.reorder(df, back=fields) if fl.get("-e") else ev.reorder(df, front=fields)


def v_template(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "--fill-with": 1, "-t": 1})
    if "-t" in fl:
        hdr = _read_records(fl["-t"], icsv=True)
        fields = list(hdr[0].keys()) if hdr else []
        if not fields:
            full = os.path.join("/root/reference", fl["-t"])
            with open(full) as fh:
                fields = fh.readline().strip().split(",")
    else:
        fields = _csl(fl["-f"])
    # absent fields fill with "" by default (template.go:58 fillWith);
    # template order IS the output key order (carrier dropped), and the
    # stream ordinal survives inside ev.template
    return ev.template(df, fields, fill=fl.get("--fill-with", ""))


def v_regularize(df, argv):
    # regularize.go: records whose SORTED key list was seen before are
    # reordered to the key order of the first such record. Per-record
    # key order lives in the __keys carrier; first-seen = min __ord
    # within the sorted-key-set partition (distributed: one window
    # keyed by the sorted key list).
    if "__keys" not in df.columns or "__ord" not in df.columns:
        return df
    from pyspark.sql import Window as W

    sk = F.array_join(F.array_sort(F.col("__keys")), "\x1f")
    w = (
        W.partitionBy(sk)
        .orderBy("__ord")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn("__keys", F.first("__keys").over(w))


def v_sec2gmt(df, argv):
    dflags = {f"-{i}": 0 for i in range(1, 10)}
    fl, pos = _flags(argv, {**dflags, "--millis": 0, "--micros": 0, "--nanos": 0})
    dec = next((int(k[1:]) for k in dflags if fl.get(k)), 0)
    divisor = 1e3 if fl.get("--millis") else 1e6 if fl.get("--micros") else 1e9 if fl.get("--nanos") else 1.0
    return ev.sec2gmt(
        df, [f_ for f_ in _csl(pos[0]) if f_ in df.columns], decimals=dec, divisor=divisor
    )


def v_sec2gmtdate(df, argv):
    _, pos = _flags(argv, {})
    return ev.sec2gmtdate(df, [f_ for f_ in _csl(pos[0]) if f_ in df.columns])


def v_repeat(df, argv):
    fl, _ = _flags(argv, {"-n": 1, "-f": 1})
    # keep __ord: copies of a record are byte-identical, so tie order
    # among them is immaterial while the stream stays ordered
    d = df
    if "-f" in fl:
        fld = fl["-f"]
        if fld not in d.columns:
            raise Unsupported("repeat absent field")
        return ev.repeat(d.withColumn(fld, F.col(fld).try_cast("int")).filter(F.col(fld).isNotNull()).withColumn(fld, F.col(fld).cast("string")), fld)
    return ev.repeat(d, int(fl["-n"]))


def v_count_similar(df, argv):
    fl, _ = _flags(argv, {"-g": 1, "-o": 1})
    by = _csl(fl["-g"])
    out = ev.count_similar(df, by)
    # count_similar.go BUFFERS each group and emits it whole when the
    # stream ends: group-major order (first-seen group, stream order
    # within the group)
    if by and "__ord" in out.columns:
        from pyspark.sql import Window as _W

        mins = df.groupBy(*by).agg(F.min("__ord").alias("__m"))
        out = (
            out.join(mins, by, "left")
            .withColumn(
                "__ord2",
                F.row_number().over(_W.orderBy(F.col("__m").asc(), F.col("__ord").asc())),
            )
            .drop("__m", "__ord")
            .withColumnRenamed("__ord2", "__ord")
        )
    if "-o" in fl:
        out = out.withColumnRenamed("count", fl["-o"])
    return out


def v_nothing(df, argv):
    return ev.nothing(df)


def v_tac(df, argv):
    # reversed stream order, expressed by negating the order key
    return df.withColumn("__ord", -F.col("__ord"))


def v_gsub(df, argv, first_only=False, literal=False):
    fl, pos = _flags(argv, {"-f": 1, "-a": 0})
    if len(pos) != 2:
        raise Unsupported("sub form")
    pat, rep = pos
    if not literal:
        # Miller replacements use \1..\9; Java regexp_replace uses $1.
        # Escape literal dollars first, then translate backrefs.
        rep = rep.replace("$", "\\$")
        rep = _re.sub(r"\\(\d)", r"$\1", rep)
        if "\\" in rep.replace("\\$", ""):
            raise Unsupported("sub escape")
    fields = df.columns if fl.get("-a") else _csl(fl["-f"])
    d = df
    for f_ in fields:
        if f_.startswith("__") or f_ not in d.columns:
            continue
        if dict(d.dtypes).get(f_) != "string":
            continue
        if literal:
            d = ev.ssub_field(d, f_, pat, rep)
        else:
            d = ev.sub_field(d, f_, pat, rep, all_matches=not first_only)
    return d


def v_case(df, argv):
    fl, _ = _flags(argv, {"-u": 0, "-l": 0, "-t": 0, "-s": 0, "-k": 0, "-v": 0, "-f": 1})
    mode = ("upper" if fl.get("-u") else "lower" if fl.get("-l")
            else "title" if fl.get("-t") else "sentence" if fl.get("-s") else None)
    if mode is None:
        raise Unsupported("case mode")
    which = "keys" if fl.get("-k") else "values" if fl.get("-v") else "both"
    fields = _csl(fl["-f"]) if "-f" in fl else [c for c in df.columns if not c.startswith("__")]
    return ev.case_fields(df, fields, mode, which=which)


def v_having_fields(df, argv):
    fl, _ = _flags(argv, {"--at-least": 1, "--all-defined": 1})
    fields = _csl(fl.get("--at-least") or fl.get("--all-defined") or "")
    if not fields or any(f_ not in df.columns for f_ in fields):
        # requesting a field no record has => empty result
        return df.limit(0)
    return ev.having_fields_all_defined(df, fields)


def v_seqgen(spark, argv):
    fl, _ = _flags(argv, {"--start": 1, "--stop": 1, "--step": 1, "-f": 1})
    step = int(fl.get("--step", 1))
    start, stop = int(fl["--start"]), int(fl["--stop"])
    field = fl.get("-f", "i")
    if step == 0 and start != stop:
        raise Unsupported("seqgen infinite loop")
    if step > 0 and stop < start or step < 0 and stop > start:
        # degenerate range: seqgen emits nothing (seqgen.go)
        return spark.range(0).select(F.col("id").alias(field))
    if step == 0:
        step = 1  # start == stop: single record
    return ev.seqgen(spark, start, stop, step, field=field)


def v_join(spark, right, argv, to_df, ifmt):
    """`mlr join -f LEFT -j out [-l lk] [-r rk] [--np|--ul|--ur] [-s|-u]`
    (join.go:24-31 emit-flag matrix). The join field is renamed to the
    -j output name on EVERY emitted record, paired or not (golden
    verb-join/0009); records missing the key never pair and flow to the
    unpaired side.

    Emission ORDER is the reference's (join.go:417-455): right-driven —
    per right record in stream order, its pairs (left-bucket order
    inside) or its unpaired self; then at end of stream the left
    unpaired BUCKETS in first-seen key order (records in left order)
    followed by left records lacking the join keys. Key order of a
    paired record: output join names, left non-join fields in left
    record order, right non-join fields in right record order
    (formAndEmitPairs, join.go:623-680). Sorted mode (-s) with --ul
    interleaves left-unpaired by key position — not modeled: flagged
    unordered."""
    expanded = []
    for a in argv:
        if a.startswith("--lp=") or a.startswith("--rp="):
            expanded.extend(a.split("=", 1))
        else:
            expanded.append(a)
    fl, pos = _flags(expanded, {
        "-f": 1, "-j": 1, "-l": 1, "-r": 1, "-s": 0, "-u": 0,
        "--np": 0, "--ul": 0, "--ur": 0, "-i": 1, "--lp": 1, "--rp": 1,
        "--lk": 1, "--left-keep-field-names": 1, "--ignore-empty": 0,
    })
    if pos:
        raise Unsupported("join positional")
    lp, rp = fl.get("--lp", "left_"), fl.get("--rp", "right_")
    use_prefixes = "--lp" in fl or "--rp" in fl
    lfmt = fl.get("-i", ifmt)  # left file defaults to the main input format
    if lfmt not in ("dkvp", "csv", "csvlite", "tsv", "json", "xtab", "pprint", "nidx"):
        raise Unsupported(f"join -i {lfmt}")
    j = _csl(fl["-j"]) if "-j" in fl else None
    lk = _csl(fl["-l"]) if "-l" in fl else j
    rk = _csl(fl["-r"]) if "-r" in fl else j
    if j is None:
        j = lk or rk
    if not (j and lk and rk) or len({len(j), len(lk), len(rk)}) != 1:
        raise Unsupported("join key spec")
    lkeep = _csl(fl.get("--lk") or fl.get("--left-keep-field-names") or "") if (
        "--lk" in fl or "--left-keep-field-names" in fl
    ) else None

    # the left file honors the global comment flags too (the reference
    # builds its -f reader from the main reader options, join.go)
    lrecs = _read_records(
        fl["-f"],
        icsv=(lfmt if lfmt in ("xtab", "pprint", "tsv", "nidx") else lfmt in ("csv", "csvlite")),
        jsonin=(lfmt == "json"),
        comment_skip=getattr(_TLS, "comment_skip", None),
        comment_pass=getattr(_TLS, "comment_pass", None),
        comment_sink=getattr(_TLS, "comment_sink_join", None),
    )
    # left-file comment lines are STRIPPED, not printed: the reference
    # copies main reader options into the -f reader (join.go:144), but
    # the pass-comments OutputString entries it emits are swallowed by
    # the hash-join ingest instead of reaching stdout — only the MAIN
    # stream's comments print (golden verb-join/0221).
    jsink = getattr(_TLS, "comment_sink_join", None)
    if jsink:
        jsink.clear()
    left = to_df(spark, lrecs, infer=(lfmt not in ("csv", "csvlite", "tsv"))) if lrecs else None

    emit_paired = not fl.get("--np")
    emit_ul, emit_ur = bool(fl.get("--ul")), bool(fl.get("--ur"))
    sorted_mode = bool(fl.get("-s"))

    def _carriers(df, ordc, keyc):
        if df is None:
            return None
        cols = [c for c in df.columns if not c.startswith("__")]
        df = df.withColumnRenamed("__ord", ordc)
        if "__keys" in df.columns:
            df = df.withColumnRenamed("__keys", keyc)
        else:
            df = df.withColumn(keyc, F.array(*[F.lit(c) for c in cols]))
        return df.drop(*[c for c in df.columns
                         if c.startswith("__") and c not in (ordc, keyc)])

    left = _carriers(left, "__lord", "__lkeys")
    right = _carriers(right, "__rord", "__rkeys")

    if lkeep is not None and left is not None:
        keep = set(lkeep) | set(lk)
        left = left.select(
            *[c for c in left.columns if c in keep or c.startswith("__")]
        ).withColumn(
            "__lkeys", F.filter(F.col("__lkeys"), lambda k: k.isin(*keep))
        )

    def prep(df, keys):
        """Rename key cols to the output names; return (all, nonnull)."""
        if df is None or any(k not in df.columns for k in keys):
            return None, None
        allr = df.withColumnsRenamed(dict(zip(keys, j)))
        nn = allr
        for k in j:
            nn = nn.filter(F.col(k).isNotNull())
            if fl.get("--ignore-empty"):
                nn = nn.filter(F.col(k).cast("string") != "")
        return allr, nn

    l_all, l_nn = prep(left, lk)
    r_all, r_nn = prep(right, rk)

    # Explicit --lp/--rp prefix ALL non-join fields of that side, paired
    # and unpaired (join.go). Without explicit flags the defaults kick
    # in only to resolve paired-record collisions, on both sides.
    if "--lp" in fl and l_all is not None:
        ren = {c: lp + c for c in l_all.columns
               if c not in j and not c.startswith("__")}
        l_all = l_all.withColumnsRenamed(ren)
        l_nn = l_nn.withColumnsRenamed(ren) if l_nn is not None else None
    if "--rp" in fl and r_all is not None:
        ren = {c: rp + c for c in r_all.columns
               if c not in j and not c.startswith("__")}
        r_all = r_all.withColumnsRenamed(ren)
        r_nn = r_nn.withColumnsRenamed(ren) if r_nn is not None else None

    _LO = 1 << 16         # left-ordinal stride (in-slot release pos)
    _B = 1 << 20          # bucket stride for unsorted end-of-stream
    _S = 1 << 34          # per-right-record slot width
    _HALF = 1 << 33       # pairs/right-unpaired live in the upper half;
    #                       sort-merge left-unpaired-passed-over in the
    #                       lower half (emitted while advancing the
    #                       bucket keeper, BEFORE that right record's
    #                       own output — join_bucket_keeper.go)
    _OFF_UL = 1 << 52     # left-unpaired buckets after all right-driven
    _OFF_NOKEY = 1 << 56  # then left records lacking the join keys

    def _keys_out(arr, side_keys, prefix, do_prefix, drop_keys):
        """Rewrite a side's key-order array for emission: join keys
        renamed to the -j output names (or dropped for the paired
        record body), the rest optionally prefixed."""
        m = dict(zip(side_keys, j))

        def one(k):
            rest = F.concat(F.lit(prefix), k) if do_prefix else k
            e = None
            for a, b in m.items():
                e = (F.when(k == F.lit(a), F.lit(b)) if e is None
                     else e.when(k == F.lit(a), F.lit(b)))
            return e.otherwise(rest) if e is not None else rest

        if drop_keys:
            arr = F.filter(arr, lambda k: ~k.isin(*side_keys))
        return F.transform(arr, one)

    parts = []
    if emit_paired and l_nn is not None and r_nn is not None:
        lcols = [c for c in l_nn.columns if c not in j and not c.startswith("__")]
        rcols = [c for c in r_nn.columns if c not in j and not c.startswith("__")]
        collide = set(lcols) & set(rcols)
        if collide and not use_prefixes:
            raise Unsupported("join non-key column collision")
        joined = l_nn.join(r_nn, on=j, how="inner")
        pair_keys = F.concat(
            F.array(*[F.lit(x) for x in j]),
            _keys_out(F.col("__lkeys"), lk, lp, "--lp" in fl, drop_keys=True),
            _keys_out(F.col("__rkeys"), rk, rp, "--rp" in fl, drop_keys=True),
        )
        parts.append(
            joined.withColumn(
                "__ord",
                F.col("__rord") * _S + _HALF + F.col("__lord") + 1,
            ).withColumn("__keys", pair_keys)
            .drop("__lord", "__lkeys", "__rord", "__rkeys")
        )

    def _left_emit(df, anti=True):
        """Left-unpaired: unsorted mode emits buckets at END of stream
        in first-seen key order, records in left order inside; keyless
        records after all buckets. Sort-merge mode (-s) emits a
        passed-over bucket while ingesting the first right record whose
        key sorts ABOVE it — i.e. interleaved, just before that right
        record's own output (join_bucket_keeper.go cursor advance)."""
        from pyspark.sql import Window as _W

        pre_keys = None
        for k in j:
            c = F.col(k).isNotNull() if k in df.columns else F.lit(False)
            pre_keys = c if pre_keys is None else (pre_keys & c)
        keysd = None
        if (sorted_mode and pre_keys is not None
                and all(k in df.columns for k in j)):
            # effective key must see PAIRED keyed records too (the
            # cursor passes a keyless record while reading through its
            # preceding keyed run) — compute before the anti-join
            lks0 = F.struct(*[F.col(k).cast("string") for k in j])
            df = df.withColumn(
                "__ek",
                F.last(F.when(pre_keys, lks0), ignorenulls=True).over(
                    _W.orderBy("__lord")
                    .rowsBetween(_W.unboundedPreceding, 0)
                ),
            )
            # per distinct keyed key: its predecessor (keyless
            # pass-through threshold) and its run TERMINATOR ordinal —
            # the first keyed record with a greater key, where an
            # unpaired bucket is discarded mid-slot
            keysd = (
                df.filter(pre_keys)
                .groupBy(lks0.alias("__k"))
                .agg(F.min("__lord").alias("__kmin"))
                .withColumn("__p2", F.lag("__k").over(_W.orderBy("__k")))
                .withColumn(
                    "__term", F.lead("__kmin").over(_W.orderBy("__k"))
                )
                .drop("__kmin")
            )
        if anti and r_nn is not None:
            df = df.join(r_nn.select(*j).distinct(), on=j, how="left_anti")

        have_keys = None
        for k in j:
            c = F.col(k).isNotNull() if k in df.columns else F.lit(False)
            have_keys = c if have_keys is None else (have_keys & c)
        if have_keys is None:
            have_keys = F.lit(False)
        wmin = F.min(F.when(have_keys, F.col("__lord"))).over(
            _W.partitionBy(*[F.col(k) for k in j if k in df.columns])
        ) if any(k in df.columns for k in j) else F.lit(0)
        ordc = F.when(
            have_keys, F.lit(_OFF_UL) + wmin * _B + F.col("__lord")
        ).otherwise(F.lit(_OFF_NOKEY) + F.col("__lord"))
        if (sorted_mode and r_nn is not None
                and all(k in df.columns for k in j)):
            # doubly-streaming cursor (join_bucket_keeper.go): a left
            # record passes out while ingesting the first right KEYED
            # record whose key sorts above the record's EFFECTIVE key —
            # its own key, or (keyless record) the last keyed key
            # before it in the left stream; -inf when none. No such
            # right record -> the end-of-stream branch above. Field-wise
            # lexical compare, per the -s sorted-input contract.
            # Bucket-keeper replay (join_bucket_keeper.go FindJoinBucket
            # / prepareForNewJoinBucket / fillNextJoinBucket /
            # markRemainingsAsUnpaired; het-join goldens
            # verb-join/0078-0104):
            #  * a left record releases in the SLOT of the first keyed
            #    right record whose key exceeds its threshold — own key
            #    for keyed records, pred(preceding run key) for keyless
            #    ones (read while that run is filled or seeked past);
            #    no such right record -> end-of-stream drain;
            #  * within a slot, order is READ order, except a run that
            #    had become the KEEPER'S BUCKET: its group releases at
            #    its terminator position, as one move event before any
            #    same-ordinal read. A run becomes the bucket iff it is
            #    the first keyed run or some right key lands in
            #    (pred(k), k].
            rmin = r_nn.groupBy(*j).agg(F.min("__rord").alias("__rmin"))
            rmin = rmin.select(
                F.struct(
                    *[F.col(k).cast("string") for k in j]
                ).alias("__rk"),
                "__rmin",
            )
            bhit = (
                keysd.filter(F.col("__p2").isNotNull())
                .join(
                    rmin.select("__rk"),
                    (F.col("__rk") > F.col("__p2"))
                    & (F.col("__rk") <= F.col("__k")),
                    "left_semi",
                )
                .select("__k")
                .withColumn("__isb", F.lit(True))
            )
            keysd = keysd.join(bhit, "__k", "left").withColumn(
                "__isb",
                F.coalesce(F.col("__isb"), F.col("__p2").isNull()),
            )
            df = df.join(
                keysd.withColumnRenamed("__k", "__ek"), "__ek", "left"
            )
            thr = F.when(have_keys, F.col("__ek")).otherwise(F.col("__p2"))
            df = df.withColumn("__thr", thr)
            first_r = r_nn.agg(F.min("__rord")).first()[0]
            bef = (
                df.select(F.col("__lord"), F.col("__thr"))
                .join(rmin, F.col("__rk") > F.col("__thr"), "inner")
                .groupBy("__lord")
                .agg(F.min("__rmin").alias("__bef"))
            )
            df = df.join(bef, "__lord", "left")
            if first_r is not None:
                df = df.withColumn(
                    "__bef",
                    F.when(
                        F.col("__thr").isNull(), F.lit(int(first_r))
                    ).otherwise(F.col("__bef")),
                )
            is_bucket = have_keys & F.coalesce(F.col("__isb"), F.lit(False))
            eff = F.when(
                is_bucket,
                F.coalesce(F.col("__term"), F.lit((_LO >> 1) - 1)),
            ).otherwise(F.col("__lord"))
            phase = F.when(is_bucket, F.lit(0)).otherwise(F.lit(1))
            inslot = (eff * 2 + phase) * _LO + F.col("__lord")
            # end-of-stream drain follows the same event order
            ordc = F.when(
                F.col("__bef").isNotNull(),
                F.col("__bef") * _S + inslot,
            ).otherwise(F.lit(_OFF_UL) + inslot)
        keysc = _keys_out(F.col("__lkeys"), lk, lp, "--lp" in fl,
                          drop_keys=False)
        out_ = (df.withColumn("__ord", ordc).withColumn("__keys", keysc)
                .drop("__lord", "__lkeys"))
        return out_.drop(
            *[c for c in ("__bef", "__ek", "__p2", "__thr", "__term",
                          "__isb")
              if c in out_.columns])

    if emit_ul:
        if l_all is None and left is not None:
            parts.append(_left_emit(left, anti=False))
        elif l_all is not None:
            parts.append(_left_emit(l_all))
    if emit_ur:

        def _right_emit(df, anti=True):
            if anti and l_nn is not None:
                df = df.join(l_nn.select(*j).distinct(), on=j, how="left_anti")
            keysc = _keys_out(F.col("__rkeys"), rk, rp, "--rp" in fl,
                              drop_keys=False)
            return (df.withColumn("__ord", F.col("__rord") * _S + _HALF)
                    .withColumn("__keys", keysc)
                    .drop("__rord", "__rkeys"))

        if r_all is None and right is not None:
            parts.append(_right_emit(right, anti=False))
        elif r_all is not None:
            parts.append(_right_emit(r_all))

    parts = [p for p in parts if p is not None]
    if not parts:
        # nothing to emit (e.g. inner join with an empty side, or --np
        # with no --ul/--ur survivors): empty record stream
        for d in (l_all, r_all, right):
            if d is not None:
                out0 = d.limit(0)
                if "__ord" not in out0.columns:
                    out0 = out0.withColumn("__ord", F.lit(0).cast("long"))
                return out0
        raise Unsupported("join emits nothing computable")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


_STEPPERS_OK = {"shift", "shift_lag", "shift_lead", "delta", "ratio", "rsum",
                "rprod", "counter", "from-first"}


def _step_parse_count(name: str):
    """(base, n) for variable-count steppers; (name, 0) otherwise
    (step.go parseStepperCount: shift == shift_lag, shift_7 etc)."""
    for base in ("shift_lead", "shift_lag", "shift", "delta", "ratio"):
        if name == base:
            return base, 1
        tail = name[len(base) + 1:]
        if name.startswith(base + "_") and tail.isdigit():
            return base, int(tail)
    return name, 0


def _step_miller_driver(spark, records, stepper_names, fields, by):
    """Reference step event model driver-side, for the byte-exact CLI
    path when step is the LAST verb over a pristine stream: per-value
    Miller typing (int deltas stay int, mixed int/float fields keep
    per-prefix types), ingest-gated outputs, value-ring nil pushes on
    absent fields, end-of-stream drain (step.go:369-546 handleRecord/
    handleDrainRecord, valueRing :819-846, steppers :894-1420). The
    distributed scale path is mlrsketch.verbs.exact.step — this runs
    only where emission bytes are compared, like v_describe/v_summary.
    """
    from mlrsketch.dsl import interp as MI

    max_fwd = 0
    for s in stepper_names:
        b, n = _step_parse_count(s)
        if b == "shift_lead":
            max_fwd = max(max_fwd, n)

    def scan(v):
        return MI.infer_value(v) if isinstance(v, str) else v

    class Ring:
        __slots__ = ("vals", "nxt", "filled")

        def __init__(self, n):
            self.vals = [None] * n
            self.nxt = 0
            self.filled = 0

        def push(self, v):
            nback = self.vals[self.nxt]
            has = self.filled >= len(self.vals)
            self.vals[self.nxt] = v
            self.nxt = (self.nxt + 1) % len(self.vals)
            if not has:
                self.filled += 1
            return nback, has

    class Win:
        """Per-group window keeper; get(0) = center = max_fwd back."""
        __slots__ = ("ing",)

        def __init__(self):
            self.ing = []

        def ingest(self, rec):
            self.ing.append(rec)

        def get(self, j):
            idx = len(self.ing) - 1 - max_fwd + j
            return self.ing[idx] if 0 <= idx < len(self.ing) else None

    class St:
        __slots__ = ("name", "base", "n", "f", "out", "ring", "acc",
                     "first", "has_first")

        def __init__(self, name, f):
            self.name, self.f = name, f
            self.base, self.n = _step_parse_count(name)
            self.out = f + ("_from_first" if name == "from-first"
                            else "_" + name)
            self.ring = (Ring(self.n) if self.base in
                         ("shift", "shift_lag", "delta", "ratio") else None)
            self.acc = None
            self.first = None
            self.has_first = False

        def clear_prev(self):
            if self.ring is not None:
                self.ring.push(None)

        def process(self, wk):
            cur = wk.get(0)
            if cur is None:
                return
            f, b = self.f, self.base
            has_f = f in cur
            curraw = cur.get(f)
            if b in ("shift", "shift_lag"):
                prev, has = self.ring.push(curraw if has_f else None)
                cur[self.out] = prev if (has and prev is not None) else ""
                return
            if b == "shift_lead":
                nxt = wk.get(self.n)
                if nxt is None:
                    cur[self.out] = ""
                    return
                if f in nxt:
                    cur[self.out] = nxt[f]
                return
            if b in ("delta", "ratio"):
                if not has_f:
                    self.ring.push(None)
                    return
                if curraw == "":
                    self.ring.push(None)
                    cur[self.out] = ""
                    return
                v = scan(curraw)
                prev, has = self.ring.push(v)
                if has and prev is not None:
                    cur[self.out] = MI.arith(
                        "-" if b == "delta" else "/", v, prev)
                else:
                    cur[self.out] = 0 if b == "delta" else 1
                return
            if not has_f:
                return
            if self.name == "from-first":
                v = scan(curraw)
                if not self.has_first:
                    self.first, self.has_first = v, True
                    cur[self.out] = 0
                else:
                    cur[self.out] = MI.arith("-", v, self.first)
                return
            if curraw == "":
                cur[self.out] = ""
                return
            v = scan(curraw)
            if self.name == "rsum":
                self.acc = MI.arith("+", v, 0 if self.acc is None else self.acc)
                cur[self.out] = self.acc
            elif self.name == "rprod":
                self.acc = MI.arith("*", v, 1 if self.acc is None else self.acc)
                cur[self.out] = self.acc
            elif self.name == "counter":
                self.acc = MI.arith("+", 0 if self.acc is None else self.acc, 1)
                cur[self.out] = self.acc

    emitted: list[dict] = []
    groups: dict[str, tuple] = {}
    log: list[tuple] = []
    drained: set[int] = set()

    def run_steppers(rec, win, sts):
        for f in fields:
            if f not in rec:
                for st in (sts.get(f) or {}).values():
                    st.clear_prev()
                continue
            st_f = sts.setdefault(f, {})
            for name in stepper_names:
                st = st_f.get(name)
                if st is None:
                    st = st_f[name] = St(name, f)
                st.process(win)

    for rec0 in records:
        rec = dict(rec0)
        if by and any(b not in rec for b in by):
            emitted.append(rec)
            continue
        gkey = "\x1f".join(str(rec[b]) for b in by) if by else ""
        ent = groups.get(gkey)
        if ent is None:
            ent = groups[gkey] = (Win(), {})
        win, sts = ent
        win.ingest(rec)
        log.append((rec, win, sts))
        run_steppers(rec, win, sts)
        c = win.get(0)
        if c is not None:
            emitted.append(c)
            drained.add(id(c))
    for rec, win, sts in log:
        if id(rec) in drained:
            continue
        win.ingest(None)
        run_steppers(rec, win, sts)
        c = win.get(0)
        if c is not None:
            emitted.append(c)

    def outv(v):
        if v is None:
            return None
        if isinstance(v, MI.Err):
            return "\x02(error)"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return repr(float(v))
        if isinstance(v, int):
            return str(int(v))
        return v

    recs_out = [
        {k: outv(v) for k, v in r.items() if not k.startswith("__")}
        for r in emitted
    ]
    to_df = run_case.__globals__.get("_TO_DF")
    return to_df(spark, recs_out, infer=False)


def v_step(df, argv):
    fl, _ = _flags(argv, {"-a": 1, "-f": 1, "-g": 1, "-d": 1, "-o": 1, "-F": 0})
    slwins = []
    steppers = []
    has_ewma = False
    for s in _csl(fl["-a"]):
        if s == "ewma":
            has_ewma = True
        elif s.startswith("slwin_"):
            parts = s.split("_")
            if len(parts) != 3 or not parts[1].lstrip("-").isdigit() or not parts[2].lstrip("-").isdigit():
                raise Unsupported(f"stepper {s}")
            slwins.append((int(parts[1]), int(parts[2])))
        else:
            steppers.append(s)
    # shift_N is shorthand for shift_lag_N but keeps the shift_N name
    shift_renames: dict[str, str] = {}
    norm = []
    for s in steppers:
        if _re.fullmatch(r"shift_\d+", s):
            alias = "shift_lag_" + s.rsplit("_", 1)[1]
            shift_renames[alias] = s
            norm.append(alias)
        else:
            norm.append(s)
    steppers = norm
    for s in steppers:
        base = s.rsplit("_", 1)
        if s not in _STEPPERS_OK and not (
            len(base) == 2 and base[1].isdigit() and base[0] in
            ("shift_lag", "shift_lead", "delta", "ratio")
        ):
            raise Unsupported(f"stepper {s}")
    alphas = [float(a) for a in _csl(fl["-d"])] if "-d" in fl else []
    if has_ewma and not alphas:
        raise Unsupported("ewma without -d")
    if has_ewma and any(not 0 < a <= 1 for a in alphas):
        raise Unsupported("ewma alpha outside (0, 1]")
    by = _csl(fl["-g"]) if "-g" in fl else []
    values = _csl(fl["-f"])
    if any(v not in df.columns for v in values):
        raise Unsupported("step absent field")
    # byte-exact driver path (see _step_miller_driver): last verb over a
    # pristine stream, ring/accumulator steppers only (-F is a Miller-6
    # no-op, step.go:91)
    orig_names = _csl(fl["-a"])
    ring_ok = all(
        _step_parse_count(s)[0] in
        ("shift", "shift_lag", "shift_lead", "delta", "ratio")
        or s in ("rsum", "rprod", "counter", "from-first")
        for s in orig_names
    )
    if (
        ring_ok
        and getattr(_TLS, "df_pristine", False)
        and getattr(_TLS, "orig_records", None)
        and getattr(_TLS, "chain_is_last", False)
    ):
        return _step_miller_driver(
            df.sparkSession, _TLS.orig_records, orig_names, values, by)
    dtypes = dict(df.dtypes)
    numeric_needed = bool(
        [s for s in steppers if s not in ("shift", "shift_lag", "shift_lead", "counter")]
        or has_ewma
        or slwins
    )
    if numeric_needed and any(dtypes[v] == "string" for v in values):
        # csv/tsv inputs keep raw strings; Miller scan-infers numerics
        # per value. Cast numeric-looking string step fields (long when
        # all-integral, else double); truly non-numeric stays skipped.
        for v in values:
            if dtypes[v] != "string":
                continue
            nonnull = df.filter(F.col(v).isNotNull() & (F.col(v) != ""))
            n = nonnull.count()
            if nonnull.filter(F.col(v).cast("long").isNotNull()).count() == n:
                df = df.withColumn(v, F.col(v).cast("long"))
            elif nonnull.filter(F.col(v).cast("double").isNotNull()).count() == n:
                df = df.withColumn(v, F.col(v).cast("double"))
            else:
                raise Unsupported("step arithmetic on string field")
    passthrough = None
    if by:
        if any(b not in df.columns for b in by):
            raise Unsupported("step group key absent")
        cond = None
        for b in by:
            c = F.col(b).isNotNull()
            cond = c if cond is None else (cond & c)
        passthrough = df.filter(~cond)
        df = df.filter(cond)
    for m_back, n_fwd in slwins:
        if m_back < 0 or n_fwd < 0:
            raise Unsupported("negative slwin bound")
    out = ev.step(df, steppers, values, order_by=["__ord"], by=by,
                  ewma_alphas=alphas if has_ewma else [],
                  slwins=slwins if by else [])
    for alias, orig in shift_renames.items():
        for f_ in values:
            out = out.withColumnRenamed(f"{f_}_{alias}", f"{f_}_{orig}")
    for m_back, n_fwd in slwins:
        if not by:
            for f_ in values:
                out = ev.slwin(out, f_, m_back, n_fwd, order_by=["__ord"], by=by)
        # Miller names the column {f}_{m}_{n} (step.go:703-711)
        for f_ in values:
            out = out.withColumnRenamed(
                f"{f_}_slwin_{m_back}_{n_fwd}", f"{f_}_{m_back}_{n_fwd}"
            )
    if passthrough is not None:
        out = out.unionByName(passthrough, allowMissingColumns=True)
    # Miller names ewma columns {f}_ewma_{alpha-literal}, or with -o,
    # {f}_ewma_{suffix}
    suffixes = _csl(fl["-o"]) if "-o" in fl else None
    for f_ in values:
        for ai, a in enumerate(alphas if has_ewma else []):
            ours = f"{f_}_ewma_" + ("%g" % a).replace(".", "_")
            want = suffixes[ai] if suffixes else "%g" % a
            out = out.withColumnRenamed(ours, f"{f_}_ewma_{want}")
    # shift-family columns: the reference seeds the first record with
    # VOID "" (step.go shift acc), not absent — keep the key present so
    # tabular writers don't see a schema change on record 2
    seeded = []
    for s in steppers:
        base, _, kstr = s.partition("_")
        if base in ("delta", "ratio"):
            seed = "0" if base == "delta" else "1"
            seeded.append((s, int(kstr) if kstr.isdigit() else 1, seed))
    if seeded:
        # the reference seeds delta with INT 0 and ratio with INT 1
        # until a prev exists (step.go accumulators) — float 0.0 would
        # print 0.00000000 under MLR_OFMT where the reference prints 0
        from pyspark.sql import Window as _W

        w = (_W.partitionBy(*by) if by else _W.partitionBy(F.lit(1))).orderBy("__ord")
        rn = F.row_number().over(w)
        for f_ in values:
            for s, k, seed in seeded:
                c = f"{f_}_{s}"
                if c in out.columns:
                    # null stays null (group-key passthrough rows)
                    out = out.withColumn(
                        c,
                        F.when(F.col(c).isNull(), F.lit(None).cast("string"))
                        .when(rn <= k, F.lit(seed))
                        .otherwise(F.col(c).cast("string")),
                    )
    shift_names = {
        shift_renames.get(s, s) for s in steppers
        if s == "shift" or s.startswith(("shift_lag", "shift_lead"))
    }
    for f_ in values:
        for s in shift_names:
            c = f"{f_}_{s}"
            if c in out.columns:
                out = out.withColumn(
                    c, F.coalesce(F.col(c).cast("string"), F.lit(""))
                )
    return out


_STATS2_NAME = {
    "corr": [("corr", "{x}_{y}_corr")],
    "cov": [("cov", "{x}_{y}_cov")],
    "r2": [("r2", "{x}_{y}_r2")],
}


def v_stats2(df, argv):
    fl, _ = _flags(argv, {"-a": 1, "-f": 1, "-g": 1, "-v": 0, "--fit": 0,
                          "-s": 0, "-S": 0, "-F": 0})
    accs = _csl(fl["-a"])
    fields = _csl(fl["-f"])
    by = _csl(fl["-g"]) if "-g" in fl else []
    if len(fields) % 2 or fl.get("-v"):
        raise Unsupported("stats2 field pairing/-v")
    for a in accs:
        if a not in ("corr", "cov", "r2", "linreg-ols", "linreg-pca", "logireg"):
            raise Unsupported(f"stats2 acc {a}")
    df = _drop_missing_keys(df, by)
    if fl.get("-s"):
        # iterative stats (stats2.go -s): cumulative coefficients
        # appended per record, from expanding-window raw moments
        from pyspark.sql import Window as W

        w = (
            (W.partitionBy(*by) if by else W.partitionBy())
            .orderBy("__ord")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        adds = {}
        for i2 in range(0, len(fields), 2):
            x, y = fields[i2], fields[i2 + 1]
            if x not in df.columns or y not in df.columns:
                raise Unsupported("stats2 absent field")
            xc, yc = F.col(x).try_cast("double"), F.col(y).try_cast("double")
            both = xc.isNotNull() & yc.isNotNull()
            n = F.sum(F.when(both, 1).otherwise(0)).over(w).cast("double")
            sx = F.sum(F.when(both, xc)).over(w)
            sy = F.sum(F.when(both, yc)).over(w)
            sxx = F.sum(F.when(both, xc * xc)).over(w)
            syy = F.sum(F.when(both, yc * yc)).over(w)
            sxy = F.sum(F.when(both, xc * yc)).over(w)
            dden = n * sxx - sx * sx
            m_ols = (n * sxy - sx * sy) / dden
            b_ols = (sy - m_ols * sx) / n
            vx = (sxx - sx * sx / n) / (n - 1)
            vy = (syy - sy * sy / n) / (n - 1)
            cxy = (sxy - sx * sy / n) / (n - 1)
            disc = F.sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)
            l1 = (vx + vy + disc) / 2
            l2 = (vx + vy - disc) / 2
            m_pca = (l1 - vx) / cxy
            b_pca = sy / n - m_pca * (sx / n)

            # reference -s emission (stats2_accumulators.go Populate):
            # outputs append only to records CARRYING the pair; n<2
            # emits VOID (""), not absent — xtab keeps the key with an
            # empty value (golden verb-stats2/0003*-0004*)
            def _vs(c):
                return F.when(~both, F.lit(None).cast("string")).otherwise(
                    F.when(n < 2, F.lit("")).otherwise(c.cast("string"))
                )

            for a in accs:
                if a == "linreg-ols":
                    adds[f"{x}_{y}_ols_m"] = _vs(m_ols)
                    adds[f"{x}_{y}_ols_b"] = _vs(b_ols)
                    # ols_n always prints (int), even at n=1
                    adds[f"{x}_{y}_ols_n"] = F.when(both, n.cast("long"))
                elif a == "linreg-pca":
                    adds[f"{x}_{y}_pca_m"] = _vs(m_pca)
                    adds[f"{x}_{y}_pca_b"] = _vs(b_pca)
                    # pca_n is VOID below n=2 (unlike ols_n)
                    adds[f"{x}_{y}_pca_n"] = _vs(n.cast("long"))
                    adds[f"{x}_{y}_pca_quality"] = _vs(
                        F.when(F.abs(l1) == 0, F.lit(0.0))
                        .otherwise(1.0 - F.abs(l2) / F.abs(l1))
                    )
                elif a == "r2":
                    num = (n * sxy - sx * sy)
                    adds[f"{x}_{y}_r2"] = _vs(
                        num * num / (dden * (n * syy - sy * sy))
                    )
                elif a == "corr":
                    num = n * sxy - sx * sy
                    adds[f"{x}_{y}_corr"] = _vs(
                        num / F.sqrt(dden * (n * syy - sy * sy))
                    )
                elif a == "cov":
                    adds[f"{x}_{y}_cov"] = _vs(cxy)
                else:
                    raise Unsupported(f"stats2 -s acc {a}")
        return df.withColumns(adds)
    if fl.get("--fit"):
        # --fit: append per-record fitted values instead of coefficients
        # (stats2.go; only linreg-ols/linreg-pca produce fits). All
        # records are held to end of stream and emitted in GROUP
        # first-arrival order, stream order within each group.
        out = df
        if by:
            from pyspark.sql import Window as W

            out = out.withColumn(
                "__ord",
                F.min("__ord").over(W.partitionBy(*by)) * (1 << 20) + F.col("__ord"),
            )
        for i2 in range(0, len(fields), 2):
            x, y = fields[i2], fields[i2 + 1]
            if x not in df.columns or y not in df.columns:
                raise Unsupported("stats2 absent field")
            coefs = ev.stats2(df, x, y, [a for a in accs if a.startswith("linreg")], by=by)
            out = out.join(F.broadcast(coefs), on=by) if by else out.crossJoin(F.broadcast(coefs))
            adds = {}
            if "linreg-ols" in accs:
                adds[f"{x}_{y}_ols_fit"] = F.col(f"{x}_{y}_m") * F.col(x) + F.col(f"{x}_{y}_b")
            if "linreg-pca" in accs:
                adds[f"{x}_{y}_pca_fit"] = F.col(f"{x}_{y}_pca_m") * F.col(x) + F.col(f"{x}_{y}_pca_b")
            out = out.withColumns(adds).drop(*[c for c in coefs.columns if c not in by])
        return out
    out = None
    for i2 in range(0, len(fields), 2):
        x, y = fields[i2], fields[i2 + 1]
        if x not in df.columns or y not in df.columns:
            raise Unsupported("stats2 absent field")
        if accs == ["logireg"]:
            s = ev.logireg(df.withColumns({x: F.col(x).cast("double"), y: F.col(y).cast("double")}), x, y, by=by)
            s = s.withColumnsRenamed({
                f"{x}_{y}_m": f"{x}_{y}_logistic_m",
                f"{x}_{y}_b": f"{x}_{y}_logistic_b",
                f"{x}_{y}_n": f"{x}_{y}_logistic_n",
            })
            out = s if out is None else (out.join(s, by) if by else out.crossJoin(s))
            continue
        if "logireg" in accs:
            raise Unsupported("stats2 logireg mixed with other accs")
        # no row filter: Spark's corr/covar ignore null pairs, and a
        # group whose pairs are all-null still emits a (void) record
        s = ev.stats2(df, x, y, accs, by=by)
        ren = {}
        if "linreg-ols" in accs:
            ren[f"{x}_{y}_m"] = f"{x}_{y}_ols_m"
            ren[f"{x}_{y}_b"] = f"{x}_{y}_ols_b"
        s = s.withColumnsRenamed(ren)
        pair = F.sum(
            F.when(F.col(x).isNotNull() & F.col(y).isNotNull(), 1).otherwise(0)
        ).alias("__pn")
        n = df.groupBy(*by).agg(pair) if by else df.agg(pair)
        s = s.join(n, by) if by else s.crossJoin(n)
        if "linreg-ols" in accs:
            s = s.withColumn(f"{x}_{y}_ols_n", F.col("__pn"))
        # reference field order within the output record: each
        # accumulator's fields in -a order (stats2_accumulators.go
        # Populate: ols m,b,n / pca m,b,n,quality / r2 / corr / cov /
        # covx matrix); n<2 emits VOID, except ols_n which always
        # prints (verb-stats2/0001, 0010)
        ordered_cols = []
        for a in accs:
            if a == "linreg-ols":
                ordered_cols += [f"{x}_{y}_ols_m", f"{x}_{y}_ols_b",
                                 f"{x}_{y}_ols_n"]
            elif a == "linreg-pca":
                ordered_cols += [f"{x}_{y}_pca_m", f"{x}_{y}_pca_b",
                                 f"{x}_{y}_pca_n", f"{x}_{y}_pca_quality"]
            elif a == "covx":
                ordered_cols += [f"{x}_{x}_covx", f"{x}_{y}_covx",
                                 f"{y}_{x}_covx", f"{y}_{y}_covx"]
            else:
                ordered_cols += [f"{x}_{y}_{a.replace('-', '_')}"]
        ordered_cols = [c for c in ordered_cols if c in s.columns]
        # a group with NO valid pair never creates the accumulator: all
        # its output keys stay ABSENT (stats2.go:335-343 continue-before
        # -create); with exactly one pair the fields emit VOID
        none_ = F.col("__pn") == 0
        small = F.col("__pn") < 2
        proj = []
        for c in ordered_cols:
            col = F.col(c)
            if c.endswith("_ols_n"):
                proj.append(
                    F.when(none_, F.lit(None)).otherwise(col)
                    .cast("long").alias(c)
                )
            else:
                proj.append(
                    F.when(none_, F.lit(None).cast("string"))
                    .when(small | col.isNull(), F.lit(""))
                    .otherwise(col.cast("string")).alias(c)
                )
        s = s.select(*by, *proj)
        out = s if out is None else (out.join(s, by) if by else out.crossJoin(s))
    # Miller emission: groups in first-seen stream order, one record
    # at end of stream when ungrouped (stats2.go emit loop)
    return _group_ord(df, out, by)


def _merge_group_adds(df, groups, accs, interp, empty_void):
    """Shared merge-fields engine (merge_fields.go): per RECORD, the
    stats1 accumulators fold HORIZONTALLY across each group's fields.
    Pure row-wise expressions, zero shuffle. Values carry Miller typing
    via (numeric-rank, double, printrep) structs: picks return the
    value's original spelling, sums/means follow int arithmetic
    (divide_n_ii), voids skip ingest (merge_fields.go:349,416,519).
    empty_void: a group with nothing ingested emits VOID (""), int 0
    for sum, 0 for count (accumulator initial states) — the -f/-r
    named mode; collapse mode emits NO key instead (null)."""
    adds = {}
    est = "array<struct<s:int,n:double,t:string>>"
    for base, cols in groups.items():
        elems = [
            F.when(
                F.col(c).isNotNull() & (F.col(c).cast("string") != ""),
                F.struct(
                    F.col(c).try_cast("double").isNull().cast("int").alias("s"),
                    F.coalesce(F.col(c).try_cast("double"), F.lit(0.0)).alias("n"),
                    F.col(c).cast("string").alias("t"),
                ),
            )
            for c in cols
            if c in df.columns
        ]
        nn = (
            F.filter(F.array(*elems), lambda x: x.isNotNull())
            if elems
            else F.lit(None).cast(est)
        )
        srt = F.array_sort(nn)
        cnt = F.coalesce(F.size(nn), F.lit(0))
        nums = F.transform(
            F.filter(nn, lambda x: x["s"] == 0), lambda x: x["n"]
        )
        ncnt = F.coalesce(F.size(nums), F.lit(0))
        ssum = F.aggregate(nums, F.lit(0.0), lambda acc, x: acc + x)
        ssum2 = F.aggregate(nums, F.lit(0.0), lambda acc, x: acc + x * x)
        # all merged numerics scan as INTs -> int-typed sum/mean
        # (mlrval arithmetic keeps int until a float appears)
        all_int = F.forall(
            F.transform(F.filter(nn, lambda x: x["s"] == 0), lambda x: x["t"]),
            lambda t: t.rlike("^-?[0-9]+$"),
        )

        def sval(st):
            # the value's printrep: Miller emits picked values
            # byte-identically to how they were read
            return st["t"]

        def pick(p):
            if interp:
                # percentiles.go:9-28: iindex>=n-1 returns the element
                # itself (original typing); else a+frac*(b-a) -> float
                findex = F.greatest(
                    F.lit(p / 100.0) * (cnt - 1).cast("double"), F.lit(0.0)
                )
                iidx = F.floor(findex).cast("int")
                frac = findex - iidx.cast("double")
                lo = F.get(srt, iidx)
                hi = F.coalesce(F.get(srt, iidx + 1), lo)
                return (
                    F.when(iidx >= cnt - 1, sval(F.get(srt, cnt - 1)))
                    .when(
                        (lo["s"] == 0) & (hi["s"] == 0),
                        (lo["n"] + frac * (hi["n"] - lo["n"])).cast("string"),
                    )
                    .otherwise(sval(lo))
                )
            idx = F.least(
                F.greatest(F.floor(F.lit(p / 100.0) * cnt).cast("int"), F.lit(0)),
                cnt - 1,
            )
            return sval(F.get(srt, idx))

        for a in accs:
            name = f"{base}_{a}"
            empty = F.lit("")
            if a == "min":
                c_ = sval(F.get(srt, 0))
            elif a == "max":
                c_ = sval(F.get(srt, cnt - 1))
            elif a == "sum":
                c_ = F.when(
                    all_int, F.round(ssum).cast("long").cast("string")
                ).otherwise(ssum.cast("string"))
                empty = F.lit("0")  # sum starts FromInt(0)
            elif a == "mean":
                ilong = F.round(ssum).cast("long")
                c_ = F.when(
                    all_int & (ilong % ncnt == 0),
                    (ilong / ncnt).cast("long").cast("string"),
                ).otherwise((ssum / ncnt).cast("string"))
                empty = F.lit("NaN")  # divide(int 0, int 0)
            elif a == "count":
                c_ = cnt.cast("string")
                empty = F.lit("0")
            elif a in ("var", "stddev"):
                v_ = (ssum2 - ssum * ssum / ncnt) / (ncnt - 1).cast("double")
                v_ = F.sqrt(v_) if a == "stddev" else v_
                # n<2 emits VOID (bifs/stats.go:34-36)
                c_ = F.when(ncnt < 2, F.lit("")).otherwise(v_.cast("string"))
            elif a == "minlen":
                c_ = F.array_min(
                    F.transform(nn, lambda x: F.length(x["t"]))
                ).cast("string")
            elif a == "maxlen":
                c_ = F.array_max(
                    F.transform(nn, lambda x: F.length(x["t"]))
                ).cast("string")
            elif a == "first":
                c_ = sval(F.get(nn, 0))
            elif a == "last":
                c_ = sval(F.get(nn, cnt - 1))
            elif a == "median":
                c_ = pick(50.0)
            elif a == "iqr":
                c_ = None
            elif a in _FENCE_K_R:
                c_ = None
            elif a.startswith("p") and a[1:].replace(".", "").isdigit():
                c_ = pick(float(a[1:]))
            else:
                raise Unsupported(f"merge-fields acc {a}")
            if c_ is None:
                # iqr / fences from the shared picks; BIF typing: int-int
                # iqr stays int via the printrep re-scan of pick values
                def pnum(p):
                    idx = F.least(
                        F.greatest(
                            F.floor(F.lit(p / 100.0) * cnt).cast("int"),
                            F.lit(0),
                        ),
                        cnt - 1,
                    )
                    el = F.get(srt, idx)
                    if interp:
                        findex = F.greatest(
                            F.lit(p / 100.0) * (cnt - 1).cast("double"),
                            F.lit(0.0),
                        )
                        iidx = F.floor(findex).cast("int")
                        frac = findex - iidx.cast("double")
                        lo = F.get(srt, iidx)
                        hi = F.coalesce(F.get(srt, iidx + 1), lo)
                        return F.when(iidx >= cnt - 1, F.get(srt, cnt - 1)["n"]).otherwise(
                            lo["n"] + frac * (hi["n"] - lo["n"])
                        )
                    return el["n"]

                d_ = pnum(75.0) - pnum(25.0)
                if a == "iqr":
                    ints = all_int & ~F.lit(interp)
                    c_ = F.when(
                        ints, d_.cast("long").cast("string")
                    ).otherwise(d_.cast("string"))
                else:
                    k2 = _FENCE_K_R[a]
                    c_ = (
                        (pnum(25.0) if k2 < 0 else pnum(75.0))
                        + F.lit(k2) * d_
                    ).cast("string")
            adds[name] = (
                F.when(cnt > 0, c_).otherwise(empty)
                if empty_void
                else F.when(cnt > 0, c_)
            )
    return adds


def v_merge_fields(df, argv):
    fl, _ = _flags(argv, {"-a": 1, "-f": 1, "-o": 1, "-k": 0, "-c": 1, "-r": 1,
                          "-i": 0, "-S": 0, "-F": 0})
    accs = _csl(fl["-a"])
    interp = bool(fl.get("-i"))
    if "-c" in fl:
        # collapse mode (merge_fields.go): per RECORD, fields sharing a
        # name after removing any -c substring are merged; base name is
        # the stripped name. A record with no matching fields for a base
        # emits NO columns for it (dynamic schema -> null-guarded).
        subs = _csl(fl["-c"])
        groups: dict[str, list[str]] = {}
        for c in df.columns:
            if c.startswith("__"):
                continue
            for s in subs:
                if s in c:
                    groups.setdefault(c.replace(s, "", 1), []).append(c)
                    break
        out = df.withColumns(_merge_group_adds(df, groups, accs, interp, False))
        if not fl.get("-k") and groups:
            out = out.drop(*[c for cols in groups.values() for c in cols])
        return out
    if "-r" in fl:
        pats = _regexes(_csl(fl["-r"]))
        fields = [c for c in df.columns if not c.startswith("__") and any(p.search(c) for p in pats)]
    else:
        fields = _csl(fl["-f"])
    oname = fl.get("-o", "out")
    out = df.withColumns(
        _merge_group_adds(df, {oname: fields}, accs, interp, True)
    )
    if not fl.get("-k"):
        out = out.drop(*[f_ for f_ in fields if f_ in out.columns])
    return out


def v_unsparsify(df, argv):
    fl, _ = _flags(argv, {"--fill-with": 1, "-f": 1})
    fill = fl.get("--fill-with", "")
    if "-f" in fl:
        # only the listed fields fill in, and a filled field APPENDS at
        # record end in -f order (unsparsify.go -f: record.Put on a
        # missing key); keys the record already has stay in place
        out = df
        has_keys = "__keys" in out.columns
        for f_ in _csl(fl["-f"]):
            if f_ not in out.columns:
                out = out.withColumn(f_, F.lit(None).cast("string"))
            has = (
                F.array_contains(F.col("__keys"), f_)
                if has_keys
                else F.col(f_).isNotNull()
            )
            out = out.withColumn(
                f_,
                F.when(~has, F.lit(fill)).otherwise(
                    F.col(f_).cast("string")
                ),
            )
            if has_keys:
                out = out.withColumn(
                    "__keys",
                    F.when(
                        ~F.array_contains(F.col("__keys"), f_),
                        F.concat(F.col("__keys"), F.array(F.lit(f_))),
                    ).otherwise(F.col("__keys")),
                )
        return out
    # every key of the stream present on every record, absent -> fill
    # (unsparsify.go: VOID by default); all records take ONE key order
    # (first-seen stream order = the union schema), so the per-record
    # __keys order no longer applies
    if "__keys" in df.columns:
        df = df.drop("__keys")
    cols = [c for c in df.columns if not c.startswith("__")]
    return df.withColumns(
        {c: F.coalesce(F.col(c).cast("string"), F.lit(fill)) for c in cols}
    )


def _sparkline(counts):
    """bifs/sparkline.go:11-71: eighth-block ticks, round-half-up."""
    ticks = "▁▂▃▄▅▆▇█"
    lo, hi = min(counts), max(counts)
    if hi == lo:
        return ticks[0] * len(counts)
    out = []
    for v in counts:
        t = int((len(ticks) - 1) * (v - lo) / (hi - lo) + 0.5)
        out.append(ticks[max(0, min(t, len(ticks) - 1))])
    return "".join(out)


def v_histogram(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "--lo": 1, "--hi": 1, "--nbins": 1, "-o": 1,
                          "--auto": 0, "-s": 0})
    fields = _csl(fl["-f"])
    nbins = int(fl["--nbins"])
    prefix = fl.get("-o", "")
    out = None
    if fl.get("--auto"):
        # Miller --auto sizes bins from the joint min/max over ALL
        # requested fields (one shared bin table in the output)
        aggs = []
        for f_ in fields:
            if f_ not in df.columns:
                raise Unsupported("histogram absent field")
            aggs += [F.min(F.col(f_).cast("double")), F.max(F.col(f_).cast("double"))]
        row = df.agg(*aggs).first()
        lo = min(v for v in row[0::2] if v is not None)
        hi = max(v for v in row[1::2] if v is not None)
    if fl.get("-s"):
        # histogram.go:271-280: one record per field with a Unicode
        # sparkline over the per-bin counts
        if not fl.get("--auto"):
            lo, hi = float(fl["--lo"]), float(fl["--hi"])
        recs = []
        for f_ in fields:
            if f_ not in df.columns:
                raise Unsupported("histogram absent field")
            h = ev.histogram(df, f_, lo, hi, nbins, include_hi=bool(fl.get("--auto")))
            counts = [r["count"] for r in h.orderBy("bin_lo").collect()]
            recs.append({
                f"{prefix}field": f_,
                f"{prefix}lo": float(lo),
                f"{prefix}hi": float(hi),
                f"{prefix}sparkline": _sparkline(counts),
            })
        to_df = run_case.__globals__.get("_TO_DF")
        return to_df(df.sparkSession, recs, infer=False)
    for f_ in fields:
        if f_ not in df.columns:
            raise Unsupported("histogram absent field")
        if fl.get("--auto"):
            h = ev.histogram(df, f_, lo, hi, nbins, include_hi=True)
        else:
            h = ev.histogram(df, f_, float(fl["--lo"]), float(fl["--hi"]), nbins)
        h = h.select(
            F.round("bin_lo", 9).alias("bin_lo"), F.round("bin_hi", 9).alias("bin_hi"),
            F.col("count").alias(f"{prefix}{f_}_count"),
        )
        out = h if out is None else out.join(h, ["bin_lo", "bin_hi"])
    if prefix:
        out = out.withColumnsRenamed({"bin_lo": f"{prefix}bin_lo", "bin_hi": f"{prefix}bin_hi"})
    from pyspark.sql import Window as _W

    lo_col = f"{prefix}bin_lo" if prefix else "bin_lo"
    out = out.withColumn("__ord", F.row_number().over(_W.orderBy(F.col(lo_col).asc())))
    return out


def v_group_like(df, argv):
    """`mlr group-like` (group_like.go:90-118): re-emit records in
    batches having identical key signatures — groups in first-seen
    order, records in stream order within each group."""
    _flags(argv, {})
    if "__keys" not in df.columns or "__ord" not in df.columns:
        return df  # fixed schema: every record is already "like"
    from pyspark.sql import Window as _W

    sig = F.array_join(F.col("__keys"), "\x1f")
    d = df.withColumn("__gord", F.min("__ord").over(_W.partitionBy(sig)))
    return (
        d.withColumn(
            "__ord",
            F.row_number().over(_W.orderBy(F.col("__gord"), F.col("__ord"))) - 1,
        ).drop("__gord")
    )


def v_check(df, argv):
    """`mlr check` (check.go:91-122): consume the stream producing no
    records; warn once per input file (on its first offending record
    number) if any key is the empty string."""
    _flags(argv, {})
    has_empty = None
    if "__keys" in df.columns:
        has_empty = F.array_contains(F.col("__keys"), F.lit(""))
    elif "" in df.columns:
        has_empty = F.lit(True)
    if has_empty is not None:
        fname = F.col("__fname") if "__fname" in df.columns else F.lit("")
        rows = (
            df.filter(has_empty)
            .groupBy(fname.alias("__f"))
            .agg(F.min("__ord").alias("__o"))
            .orderBy("__o")
            .collect()
        )
        msgs = [
            "mlr: warning: empty-string key at filename %s record number %d\n"
            % (_re.sub(r"^/root/reference/", "", r["__f"]), int(r["__o"]) + 1)
            for r in rows
        ]
        if msgs:
            _TLS.dsl_stderr = getattr(_TLS, "dsl_stderr", []) + [
                ("txt", m) for m in msgs
            ]
    return df.limit(0)


def v_sparkline(df, argv):
    """`mlr sparkline -f a,b` (sparkline.go:117-159): reduce each field,
    across all records in input order, to one summary record with a
    block-character sparkline. Holds all values in memory by the
    reference's own design (presentation verb)."""
    from mlrsketch.dsl import interp as MI

    fl, _ = _flags(argv, {"-f": 1})
    fields = _csl(fl["-f"])
    cols = [c for c in df.columns if not c.startswith("__")]
    sel = ["__ord"] + [f_ for f_ in fields if f_ in cols]
    if "__keys" in df.columns:
        sel.append("__keys")
    rows = df.select(*dict.fromkeys(sel)).orderBy("__ord").collect()
    recs = []
    for f_ in fields:
        vals = []
        for r in rows:
            d = r.asDict()
            if f_ not in d or d[f_] is None:
                continue
            keys = d.get("__keys")
            if keys is not None and f_ not in keys:
                continue  # absent from this record
            vals.append(d[f_])
        rec = {"field": f_, "n": len(vals)}
        floats, err = [], False
        for v in vals:
            iv = MI.infer_value(v) if isinstance(v, str) else v
            if isinstance(iv, bool) or not isinstance(iv, (int, float)):
                err = True  # BIF_sparkline: any non-numeric -> (error)
                break
            floats.append(float(iv))
        if err:
            rec["sparkline"] = "\x02(error)"  # error-as-value (bare in json)
        elif not floats:
            rec["sparkline"] = ""  # VOID for n=0; lo/hi omitted
        else:
            rec["lo"] = min(floats)
            rec["hi"] = max(floats)
            rec["sparkline"] = _sparkline(floats)
        recs.append(rec)
    to_df = run_case.__globals__.get("_TO_DF")
    return to_df(df.sparkSession, recs, infer=False)


def _go_g(f: float) -> str:
    """Go fmt %g with shortest precision, for bar --auto range labels
    (bar.go:309-310): integral floats print without a decimal point."""
    f = float(f)
    if f == int(f) and abs(f) < 1e15:
        return str(int(f))
    return repr(f)


def v_bar(df, argv):
    """`mlr bar -f ... [--lo/--hi/-w/-c/-x/-b/--auto]` (bar.go:234-340):
    replace numeric fields with fill-character bars; --auto computes
    per-field limits from the data and brackets each bar with them."""
    fl, _ = _flags(argv, {"-f": 1, "--lo": 1, "--hi": 1, "-w": 1,
                          "--auto": 0, "-c": 1, "-x": 1, "-b": 1})
    fields = [f_ for f_ in _csl(fl["-f"]) if f_ in df.columns]
    width = int(fl.get("-w", 40))
    fill = fl.get("-c", "*")
    oob = fl.get("-x", "#")
    blank = fl.get("-b", ".")
    # bars[i] for i in 0..width (bar.go:199-211): index 0 and width are
    # the out-of-bounds forms
    bars = []
    for i in range(width + 1):
        if i == 0:
            bars.append(oob + blank * (width - 1))
        elif i < width:
            bars.append(fill * i + blank * (width - i))
        else:
            bars.append(fill * (width - 1) + oob)
    bars_arr = F.array(*[F.lit(b) for b in bars])

    def bar_col(f_, lo, hi, labeled):
        v = F.col(f_).cast("double")
        if hi == lo:  # degenerate range (Go: int(NaN) clamps to 0)
            idx = F.lit(0)
        else:
            idx = F.least(
                F.greatest(
                    F.floor(F.lit(float(width)) * (v - F.lit(lo)) / F.lit(hi - lo))
                    .cast("int"),
                    F.lit(0),
                ),
                F.lit(width),
            )
        bar = F.element_at(bars_arr, idx + 1)
        if labeled:
            bar = F.concat(F.lit("[%s]" % _go_g(lo)), bar,
                           F.lit("[%s]" % _go_g(hi)))
        # non-numeric / absent values pass through untouched
        return F.when(v.isNotNull(), bar).otherwise(F.col(f_).cast("string"))

    if fl.get("--auto"):
        aggs = []
        for f_ in fields:
            c = F.col(f_).cast("double")
            aggs += [F.min(c).alias(f_ + "__lo"), F.max(c).alias(f_ + "__hi")]
        row = df.agg(*aggs).first() if fields else None
        for f_ in fields:
            lo, hi = row[f_ + "__lo"], row[f_ + "__hi"]
            if lo is None:
                continue  # no numeric values for this field
            df = df.withColumn(f_, bar_col(f_, lo, hi, labeled=True))
        return df
    lo = float(fl.get("--lo", 0.0))
    hi = float(fl.get("--hi", 100.0))
    for f_ in fields:
        df = df.withColumn(f_, bar_col(f_, lo, hi, labeled=False))
    return df


import re as _re

from mlrsketch import dsl as _dsl
from mlrsketch.dsl.parser import DslSyntaxError, DslUnsupported


def _dsl_program(argv, case_dir=None):
    """Extract the program text: inline positional or `-f file`."""
    # -F (Miller-5 compat) is a no-op
    # -S/-F are documented no-ops in Miller 6 (put_or_filter.go:25-26);
    # -w/-W emit warnings on STDERR (not compared; warning-triggering
    # cases are should-fail and handled there); -o sets the format of
    # REDIRECTED output only (files/pipes — dropped by this harness)
    # writer flags after put/filter (--ojson/--oxtab/...) configure the
    # REDIRECTED writer only (put_or_filter.go:329-343 delegates unknown
    # flags to FLAG_TABLE writer options); like -o they are aliases here
    fl, pos = _flags(argv, {"-q": 0, "-S": 0, "-x": 0, "-f": 1, "-s": 1, "-e": 1,
                            "-v": 0, "-F": 0, "-w": 0, "-W": 0, "-o": 1,
                            "--ojson": 0, "--ojsonl": 0, "--oxtab": 0,
                            "--opprint": 0, "--ocsv": 0, "--otsv": 0,
                            "--no-fflush": 0})  # buffering only, no semantics
    for wf in ("--ojson", "--ojsonl", "--oxtab", "--opprint", "--ocsv",
               "--otsv"):
        if fl.get(wf) and "-o" not in fl:
            fl["-o"] = wf[3:] if wf != "--ojsonl" else "jsonl"
    verbose = bool(fl.get("-v"))  # echo "DSL EXPRESSION:" + AST first
    presets = {}
    for a_i, a in enumerate(argv):
        if a == "-s" and a_i + 1 < len(argv) and "=" in argv[a_i + 1]:
            k, v = argv[a_i + 1].split("=", 1)
            presets[k] = v
    if str(fl.get("-e", "")).startswith("-"):
        # `put -e -f file`: the reference's getopt takes "-f" itself as
        # the -e expression text (a CLI quirk, dsl-multipart-scripts/0004)
        raise Unsupported("put -e consuming a flag token")
    parts = []
    j = 0
    while j < len(argv):
        a = argv[j]
        if a == "-f" and j + 1 < len(argv):
            path = argv[j + 1]
            full = path if os.path.isfile(path) else os.path.join(
                "/root/reference", path)
            if not os.path.isfile(full):
                raise Unsupported("put -f file missing")
            with open(full) as fh:
                parts.append(fh.read())
            j += 2
            continue
        if a == "-e" and j + 1 < len(argv):
            parts.append(argv[j + 1])
            j += 2
            continue
        j += 1
    if parts:
        prog = ";\n".join(parts)
    elif len(pos) == 1:
        prog = pos[0]
    else:
        raise Unsupported("put program form")
    preloads = getattr(_TLS, "dsl_preloads", None)
    if preloads:
        if verbose:
            # -v echoes the literal program source; a preload-joined
            # text would not match the reference's echo
            raise Unsupported("put -v with --load preambles")
        prog = ";\n".join([*preloads, prog])
    if verbose and len(parts) > 1:
        # the echo must reproduce Miller's exact source string; a
        # multi-part join would not
        raise Unsupported("put -v with multiple program sources")
    red_ofmt = fl.get("-o")
    if red_ofmt and ("> stdout" in prog or "> stderr" in prog):
        # redirected emissions to the MAIN streams: the interp renders
        # json only, and interleaving a second format with main-stream
        # records (non-q) is beyond the single-format compare
        if red_ofmt not in ("json", "jsonl"):
            raise Unsupported(f"stdout-redirect format {red_ofmt}")
        if "-q" not in fl:
            raise Unsupported("stdout-redirect mixed with record stream")
    return (prog, bool(fl.get("-x")), bool(fl.get("-S")), presets, verbose,
            red_ofmt)


def _py_ofmt(fmt: str | None) -> str | None:
    """Go %-format -> python: drop the length modifier (%.4lf -> %.4f).
    None (no --ofmt and no MLR_OFMT, e.g. interactive CLI use) means
    Miller's default float formatting — pass it through."""
    if not fmt:
        return None
    return _re.sub(r"l+([eEfFgGd])", r"\1", fmt)


def _fmt_scalar_out(v) -> str:
    from mlrsketch.dsl.interp import format_value

    if v is None:
        return ""
    if isinstance(v, float) and v == v and v not in (
        float("inf"), float("-inf")
    ):
        # text-rendered records print floats through the case OFMT
        # (MLR_OFMT=%.8f in the reference regtest; no zero-stripping:
        # dsl-type-reflect/0001 expects 0.00000000)
        return _py_ofmt(getattr(_TLS, "ofmt_go", "%.8f")) % v
    fv = format_value(v)
    return "" if fv is None else str(fv)


class _TextResult(Exception):
    """DSL produced raw text output (print/dump) — compare at text level."""

    def __init__(self, text: str):
        self.text = text


def _run_dsl(df, argv, mode):
    if "--explain" in argv:
        # parse-check only (put_or_filter.go: prints validity and exits)
        prog, *_ = _dsl_program([a for a in argv if a != "--explain"])
        from mlrsketch.dsl.parser import parse_full_program
        parse_full_program(prog)  # raises on syntax error (experr cases)
        raise _TextResult(f"mlr {mode}: DSL expression is valid.\n")
    prog, negate, s_flag, presets, verbose, red_ofmt = _dsl_program(argv)
    if "-W" in argv or "-w" in argv:
        # static unset-local analysis (root.go:160-165 + warn.go):
        # -W = warnings-are-fatal; -w prints to stderr and continues
        from mlrsketch.dsl.interp import MlrRuntimeError
        from mlrsketch.dsl.parser import (parse_full_program,
                                          warn_unset_locals)
        warns = warn_unset_locals(parse_full_program(prog), src=prog)
        if warns and "-W" in argv:
            raise MlrRuntimeError("; ".join(warns))
        if warns:
            _TLS.dsl_stderr = getattr(_TLS, "dsl_stderr", []) + [
                ("txt", "\n".join(warns) + "\n")
            ]
    emit_only = "-q" in argv
    pre_text = None
    if verbose:
        from mlrsketch.dsl.astdump import AstUnsupported, verbose_header

        try:
            pre_text = verbose_header(prog)
        except AstUnsupported as e:
            raise Unsupported(f"put -v ast: {e}")
        return _run_dsl_interp(df.sparkSession, df, prog, mode, negate,
                               emit_only, presets, pre_text=pre_text,
                               redirect_ofmt=red_ofmt)
    if red_ofmt:
        # -o affects redirected output only — needs the interp's sinks
        return _run_dsl_interp(df.sparkSession, df, prog, mode, negate,
                               emit_only, presets, redirect_ofmt=red_ofmt)
    if getattr(_TLS, "str_only", False) or getattr(_TLS, "has_forced_str", False):
        # global -S (or an upstream fill-empty -S sentinel): values must
        # stay strings — the interp honors that (native mode skips
        # inference / infer_value unwraps the sentinel); the compiler
        # plans on inferred column types, so bypass it
        return _run_dsl_interp(df.sparkSession, df, prog, mode, negate,
                               emit_only, presets)
    hidden = tuple(c for c in df.columns if c.startswith("__"))
    if getattr(_TLS, "prefer_interp", False):
        return _run_dsl_interp(df.sparkSession, df, prog, mode, negate,
                               emit_only, presets)
    if not emit_only and not presets and not (mode == "put" and negate):
        try:
            out = _dsl.apply_program(
                df,
                prog,
                mode=mode,
                nr_col="__ord",
                fnr_col="__fnr" if "__fnr" in df.columns else None,
                filename_col="__fname" if "__fname" in df.columns else None,
                filenum_col="__fnum" if "__fnum" in df.columns else None,
                exclude=hidden,
            )
            if mode == "filter" and negate:
                # -x: recompute with inverted condition by set-difference
                # on the row ordinal (simplest correct form)
                kept = out.select("__ord")
                out = df.join(kept, "__ord", "left_anti")
            return out
        except (DslUnsupported, DslSyntaxError):
            pass  # fall through to the stream interpreter
    return _run_dsl_interp(df.sparkSession, df, prog, mode, negate,
                           emit_only, presets)


def _records_from_df(df):
    """Collect a runner DataFrame back to Miller records + file context.
    NR travels with each record as __ord+1 (original read position, not
    the post-filter stream position)."""
    rows = df.orderBy("__ord").collect()
    has_ctx = "__fnr" in df.columns
    recs, fctx, nrs = [], [], []
    for r in rows:
        d = r.asDict()
        ordv = d.pop("__ord", None)
        fnr = d.pop("__fnr", None)
        fname = d.pop("__fname", None)
        fnum = d.pop("__fnum", None)
        recs.append(
            {k: v for k, v in d.items()
             if v is not None and not k.startswith("__")}
        )
        nrs.append(int(ordv) + 1 if ordv is not None else len(recs))
        fctx.append((
            (int(fnr) + 1) if fnr is not None else 0,
            fname or "",
            int(fnum) if fnum is not None else 1,
        ))
    return recs, (fctx if has_ctx else None), nrs


class _RecordsResult(Exception):
    """DSL interpreter output when it is the last verb — the records
    ARE the final answer; skip the to_df/collect round-trip."""

    def __init__(self, records: list[dict]):
        self.records = records


def _run_dsl_interp(spark, df, prog, mode, negate, emit_only, presets=None,
                    pre_text=None, redirect_ofmt=None):
    """Full-language fallback: mlrsketch.dsl.interp stream execution."""
    from mlrsketch.dsl import interp as MI

    if getattr(_TLS, "df_pristine", False):
        # the DataFrame is still the untouched input: feed the original
        # parsed records straight in (no Spark collect)
        orig = getattr(_TLS, "orig_records", [])
        nested = getattr(_TLS, "orig_json", [])
        # JSON input with the pristine stream: use the parsed nested
        # records verbatim — typed scalars, true map-vs-array shape —
        # instead of the lossy flatten/unflatten round trip
        json_native = (
            getattr(_TLS, "ifmt", "dkvp") in ("json", "jsonl")
            and len(nested) == len(orig)
        )
        recs, fctx = [], []
        has_ctx = False
        for i, r in enumerate(orig):
            r = dict(r)
            fnr = r.pop("__fnr", None)
            fname = r.pop("__fname", None)
            fnum = r.pop("__fnum", None)
            if fnr is not None:
                has_ctx = True
            if json_native:
                recs.append(nested[i])
            else:
                recs.append({k: v for k, v in r.items() if v is not None})
            fctx.append((
                (int(fnr) + 1) if fnr is not None else 0,
                fname or "",
                int(fnum) if fnum is not None else 1,
            ))
        if not has_ctx:
            fctx = None
        nrs = list(range(1, len(recs) + 1))
    elif df is not None:
        json_native = False
        recs, fctx, nrs = _records_from_df(df)
    else:
        json_native = False
        recs, fctx, nrs = [], None, []
    err_items: list = []
    nat_records: list = []
    try:
        items = MI.run_stream(
            prog,
            recs,
            mode=mode,
            emit_only=emit_only,
            invert=negate,
            file_ctx=fctx,
            flatsep=_flatsep(),
            presets=presets,
            err_sink=err_items,
            nat_out=nat_records,
            json_input=(not json_native
                        and getattr(_TLS, "ifmt", "dkvp")
                        in ("json", "jsonl")),
            native=json_native or getattr(_TLS, "str_only", False),
            redirect_ofmt=redirect_ofmt,
            ofmt=_py_ofmt(getattr(_TLS, "ofmt_go", "%.8f")),
            tz=getattr(_TLS, "tz", None),
            env=getattr(_TLS, "env_overrides", None),
            typed=True,
            quantize=bool(getattr(_TLS, "chain_is_last", False)),
            nrs=nrs,
            final_nr=(len(getattr(_TLS, "orig_records", []) or [])
                      or (max(nrs) if nrs else 0)) or None,
        )
    except (DslUnsupported, DslSyntaxError) as e:
        raise Unsupported(f"dsl: {e}")
    except MI.MlrRuntimeError as e:
        raise Unsupported(f"dsl runtime: {e}")
    # surface the stderr channel for experr comparison (run_case)
    _TLS.dsl_stderr = getattr(_TLS, "dsl_stderr", []) + err_items
    if pre_text:
        # put -v: the AST echo precedes every other output
        items = [("txt", pre_text)] + list(items)
    txts = [p for k, p in items if k == "txt"]
    recs_out = [p for k, p in items if k == "rec"]
    if (
        recs_out
        and not txts
        and len(nat_records) == len(recs_out)
        and getattr(_TLS, "chain_is_last", False)
        and getattr(_TLS, "ofmt", "dkvp") in ("json", "jsonl")
    ):
        # byte-render path: the interpreter's NESTED typed records print
        # natively; the final unflatten applies only converting a
        # non-nestable input to json (cli/flatten_unflatten.go
        # DecideFinalUnflatten), and never under --no-auto-unflatten
        _TLS.render_records = [
            {str(MI.format_value(k)): v for k, v in r.items()}
            for r in nat_records
        ]
        _TLS.render_opts["json_typed"] = True
        if (getattr(_TLS, "ifmt", "dkvp") in ("json", "jsonl")
                or getattr(_TLS, "no_auto_unflatten", False)):
            _TLS.render_opts["no_unflatten"] = True
    if txts and not recs_out:
        raise _TextResult("".join(txts))
    if txts:
        # interleaved print/dump + records: render records in the
        # output format and compare the whole stream as text (only
        # when the DSL verb is last in the chain)
        ofmt = getattr(_TLS, "ofmt", "dkvp")
        if not getattr(_TLS, "chain_is_last", False):
            raise Unsupported("mixed print+record output mid-chain")
        if ofmt == "dkvp":
            chunks = []
            for k, p in items:
                if k == "txt":
                    chunks.append(p)
                else:
                    chunks.append(
                        ",".join(f"{kk}={_fmt_scalar_out(v)}"
                                 for kk, v in p.items()) + "\n"
                    )
            raise _TextResult("".join(chunks))
        if ofmt == "xtab":
            chunks = []
            first = True
            for k, p in items:
                if k == "txt":
                    chunks.append(p)
                else:
                    w = max((len(str(kk)) for kk in p), default=0)
                    block = "".join(
                        f"{str(kk).ljust(w)} {_fmt_scalar_out(v)}\n"
                        for kk, v in p.items()
                    )
                    chunks.append(("" if first else "\n") + block)
                    first = False
            raise _TextResult("".join(chunks))
        if ofmt == "pprint":
            # aligned blocks; a schema change or interleaved text starts
            # a new block (header re-printed)
            chunks = []
            block: list[dict] = []

            def flush_block():
                if not block:
                    return
                keys = list(block[0].keys())
                rows = [keys] + [
                    [(lambda s: "-" if s == "" else s)(_fmt_scalar_out(r.get(c)))
                     for c in keys]
                    for r in block
                ]
                widths = [max(len(row[i]) for row in rows)
                          for i in range(len(keys))]
                for row in rows:
                    line = " ".join(
                        cell.ljust(widths[i]) if i < len(keys) - 1 else cell
                        for i, cell in enumerate(row)
                    )
                    chunks.append(line + "\n")
                block.clear()

            # the pprint writer BUFFERS records (column widths need the
            # whole block); prints flush immediately, the block flushes
            # on schema change or at end-of-stream
            prev_keys = None
            first_block_done = False
            for k, p in items:
                if k == "txt":
                    chunks.append(p)
                    continue
                keys = tuple(p.keys())
                if prev_keys is not None and keys != prev_keys:
                    flush_block()
                    chunks.append("\n")
                    first_block_done = True
                prev_keys = keys
                block.append(p)
            if block and first_block_done:
                pass
            flush_block()
            raise _TextResult("".join(chunks))
        if ofmt == "json":
            chunks = []
            recs_j = []
            for k, p in items:
                if k == "txt":
                    if recs_j:
                        raise Unsupported("text after records (json)")
                    chunks.append(p)
                else:
                    if getattr(_TLS, "no_auto_unflatten", False):
                        recs_j.append(p)
                    else:
                        recs_j.append(MI.unflatten_record(p, _flatsep()))
            body = ",\n".join(MI.dump_text(r) for r in recs_j)
            chunks.append("[\n" + body + "\n]\n" if recs_j else "[\n]\n")
            raise _TextResult("".join(chunks))
        raise Unsupported(f"mixed print+record output ({ofmt})")
    if getattr(_TLS, "chain_is_last", False):
        raise _RecordsResult(
            [{k: MI.format_value(v) for k, v in r.items()}
             for r in recs_out]
        )
    to_df = _TO_DF

    def _carrier_out(v):
        # MID-CHAIN materialization: keep full float precision (repr
        # round-trips); OFMT applies only at final render, like the
        # reference (verb-sec2gmt/0009: put then sec2gmt -8 must see
        # the unrounded double, not the %.8f-formatted spelling)
        if isinstance(v, float) and v == v and v not in (
            float("inf"), float("-inf")
        ):
            return repr(v)
        return _fmt_scalar_out(v)

    out = to_df(
        spark,
        [{k: _carrier_out(v) for k, v in r.items()}
         for r in recs_out],
        infer=True,
        keep_void=True,
    )
    return out


def v_put(df, argv):
    """`mlr put` via the real expression-to-Column compiler
    (mlrsketch/dsl): the whole program becomes one Catalyst projection."""
    return _run_dsl(df, argv, "put")


def v_filter(df, argv):
    return _run_dsl(df, argv, "filter")


def v_passthrough(df, argv):
    if argv:
        raise Unsupported("passthrough verb with args")
    return df


def v_surv(df, argv):
    fl, _ = _flags(argv, {"-d": 1, "-s": 1, "-g": 1})
    d, s = fl["-d"], fl["-s"]
    if d not in df.columns or s not in df.columns:
        raise Unsupported("surv absent field")
    by = _csl(fl["-g"]) if "-g" in fl else []
    out = ev.surv(
        df.withColumns({d: F.col(d).cast("double"), s: F.col(s).cast("int")}),
        d, s, by=by,
    )
    # Miller's KM table prints event times only
    return (
        out.filter(F.col("n_events") > 0)
        .select(*by, F.col(d).alias("time"), "survival")
        .withColumn("__ord", F.monotonically_increasing_id())
    )


def v_utf8_to_latin1(df, argv):
    _flags(argv, {})
    return ev.utf8_to_latin1(df, [c for c, t in df.dtypes if t == "string" and not c.startswith("__")])


def v_split(df, argv):
    """`mlr split -n/-m/-g --prefix ...` (split.go:323-519): write the
    stream into multiple files, emit nothing downstream unless -v.
    -m M: record i (0-based) -> file (i % M)+1; -n N: file (i / N)+1;
    -g a,b: one file per distinct value tuple, name parts joined by -j
    (default "_") and URL-escaped unless -e; records missing a group
    field go to <prefix>_ungrouped. Filename = prefix_<part>.<suffix>,
    suffix defaulting to the output format (an embedded --ojson etc.
    retargets the FILES' format without touching stdout's). File
    contents go through the same writers as stdout (MLR_OFMT applies).
    Driver-side at CLI test scale; the distributed path for this shape
    is exact.split_write (partitionBy parquet)."""
    fl, _ = _flags(argv, {"-n": 1, "-m": 1, "-g": 1, "--prefix": 1, "--suffix": 1,
                          "--folder": 1, "-a": 0, "-v": 0, "-e": 0, "-j": 1,
                          "-o": 1, "--ojson": 0, "--ojsonl": 0, "--ocsv": 0,
                          "--ocsvlite": 0, "--otsv": 0, "--opprint": 0,
                          "--oxtab": 0, "--omd": 0, "--odkvp": 0, "--onidx": 0})
    ofmt = getattr(_TLS, "ofmt", "dkvp")
    for flag, f2 in _SPLIT_OFMT_FLAGS.items():
        if fl.get(flag):
            ofmt = f2
    if fl.get("-o"):
        ofmt = fl["-o"]
    prefix = fl.get("--prefix", "split")
    suffix = fl.get("--suffix") or ofmt
    folder = fl.get("--folder")
    joiner = fl.get("-j", "_")
    recs = _df_records(df)
    groups: dict[str, list] = {}
    if "-g" in fl:
        import urllib.parse

        by = _csl(fl["-g"])
        for r in recs:
            if all(r.get(b) is not None for b in by):
                part = joiner.join(str(r[b]) for b in by)
                if not fl.get("-e"):
                    part = urllib.parse.quote_plus(part)
                base = (prefix + joiner if prefix else "") + part + "." + suffix
            else:
                base = f"{prefix}_ungrouped.{suffix}"
            groups.setdefault(base, []).append(r)
    else:
        n = max(int(fl.get("-m") or fl.get("-n") or 1), 1)
        for i, r in enumerate(recs):
            k = (i % n) + 1 if "-m" in fl else (i // n) + 1
            groups.setdefault(f"{prefix}_{k}.{suffix}", []).append(r)
    for base, rs in groups.items():
        path = os.path.join(folder, base) if folder else base
        _write_records_file(rs, path, ofmt, append=bool(fl.get("-a")))
    return df if fl.get("-v") else df.limit(0)


def v_skip_trivial(df, argv):
    _flags(argv, {})
    cols = [c for c in df.columns if not c.startswith("__")]
    cond = F.lit(False)
    for c in cols:
        cond = cond | (F.col(c).isNotNull() & (F.col(c).cast("string") != ""))
    return df.filter(cond)




def _regexes(parts):
    """Miller -r field patterns: bare, "quoted", /slashed/, with optional
    trailing i for case-insensitivity."""
    import re

    out = []
    for raw in parts:
        flags = 0
        if raw.endswith("i") and len(raw) > 2 and raw[0] in "\"/" and raw[-2] == raw[0]:
            raw, flags = raw[1:-2], re.IGNORECASE
        elif len(raw) > 1 and raw[0] in "\"/" and raw[-1] == raw[0]:
            raw = raw[1:-1]
        out.append(re.compile(raw, flags))
    return out


def v_cut_regex(df, argv):
    fl, _ = _flags(argv, {"-f": 1, "-r": 0, "-x": 0, "-o": 0})
    if not fl.get("-r"):
        return v_cut(df, argv)
    pats = _regexes(_csl(fl["-f"]))
    cols = [c for c in df.columns if not c.startswith("__")]
    hit = [c for c in cols if any(p.search(c) for p in pats)]
    keep = [c for c in cols if (c in hit) != bool(fl.get("-x"))]
    if not keep:
        return df.limit(0).select(*cols)
    extra = []
    if "__ord" in df.columns:
        extra.append(F.col("__ord"))
    if "__keys" in df.columns:
        extra.append(
            F.filter(F.col("__keys"), lambda k: k.isin(*keep)).alias("__keys")
        )
    return df.select(*keep, *extra)


def v_rename_regex(df, argv):
    fl, pos = _flags(argv, {"-r": 0, "-g": 0})
    if not fl.get("-r"):
        return v_rename(df, argv)
    parts = _csl(pos[0])
    mapping = {}
    for i2 in range(0, len(parts), 2):
        pat = _regexes([parts[i2]])[0]
        rep = parts[i2 + 1].replace("\\1", "\\g<1>").replace("\\2", "\\g<2>")
        for c in df.columns:
            if c.startswith("__") or c in mapping:
                continue
            if pat.search(c):
                count = 0 if fl.get("-g") else 1
                new = pat.sub(rep, c, count=count)
                if new != c:
                    mapping[c] = new
    # record-wise rename collision (rename.go via Mlrmap.PutReference):
    # each matching field renames in encounter order; a later source
    # REPLACES the value at the already-renamed key. Under the fixed
    # schema (column order == first-appearance key order) the surviving
    # value is the LAST present source — coalesce over reversed sources.
    if mapping and "__keys" in df.columns:
        df = df.withColumn("__keys", _keys_rename_col(mapping)(F.col("__keys")))
    targets: dict[str, list[str]] = {}
    for c in df.columns:
        if c in mapping:
            targets.setdefault(mapping[c], []).append(c)
    # with >=2 co-present sources the surviving value follows each
    # record's OWN key order (per-file header order), which the unioned
    # schema loses — replay per record on the pristine input stream
    if any(len(s) > 1 for s in targets.values()):
        has_copresent = False
        for t, srcs in targets.items():
            if len(srcs) > 1:
                present = None
                for s in srcs:
                    p = F.col(s).isNotNull().cast("int")
                    present = p if present is None else (present + p)
                if df.filter(present >= 2).limit(1).count() > 0:
                    has_copresent = True
                    break
        if has_copresent:
            if not getattr(_TLS, "df_pristine", False):
                raise Unsupported("rename collision mid-chain")
            out_recs = []
            for rec in getattr(_TLS, "orig_records", []):
                new = {}
                for k, v in rec.items():
                    nk = k
                    for i2 in range(0, len(parts), 2):
                        pat = _regexes([parts[i2]])[0]
                        if pat.search(k):
                            rep = parts[i2 + 1].replace("\\1", "\\g<1>").replace("\\2", "\\g<2>")
                            nk = pat.sub(rep, k, count=0 if fl.get("-g") else 1)
                            break
                    new[nk] = v  # PutReference: replaces in place if present
                out_recs.append(new)
            to_df = run_case.__globals__.get("_TO_DF")
            return to_df(
                df.sparkSession,
                out_recs,
                infer=getattr(_TLS, "ifmt", "dkvp") not in ("csv", "tsv"),
            )
    sel = []
    emitted = set()
    for c in df.columns:
        if c.startswith("__"):
            sel.append(F.col(c))
        elif c in mapping:
            t = mapping[c]
            if t in emitted:
                continue
            srcs = targets[t]
            col = F.coalesce(*[F.col(s) for s in reversed(srcs)]) if len(srcs) > 1 else F.col(c)
            sel.append(col.alias(t))
            emitted.add(t)
        elif c in targets:
            continue  # pre-existing field replaced by a rename
        else:
            sel.append(F.col(c))
    return df.select(*sel)


def v_having_fields_full(df, argv):
    fl, _ = _flags(argv, {"--at-least": 1, "--all-defined": 1, "--which-are": 1,
                          "--at-most": 1, "--any-defined": 1,
                          "--all-matching": 1, "--any-matching": 1, "--none-matching": 1})
    for key in ("--all-matching", "--any-matching", "--none-matching"):
        if fl.get(key):
            return ev.having_fields(df, key[2:], pattern=fl[key], exclude=[c for c in df.columns if c.startswith("__")])
    for key in ("--which-are", "--any-defined", "--at-most", "--at-least", "--all-defined"):
        if fl.get(key):
            return ev.having_fields(df, key[2:], fields=_csl(fl[key]), exclude=[c for c in df.columns if c.startswith("__")])
    return v_having_fields(df, argv)


_NEST_SEPS = {"pipe": "|", "semicolon": ";", "comma": ",", ";": ";", "|": "|", ",": ","}


def v_nest(df, argv):
    """`mlr nest` — all six explode/implode × values/pairs ×
    across-records/across-fields modes (nest.go:400-560), plus the
    --evar/--ivar abbreviations and -r regex field selection. Pair keys
    come from DATA, so the pairs modes discover the (test-scale) key
    set with one collect, then emit a single projection."""
    fl, _ = _flags(argv, {
        "--explode": 0, "--implode": 0, "--values": 0, "--pairs": 0,
        "--across-records": 0, "--across-fields": 0, "-f": 1, "-r": 1,
        "--nested-fs": 1, "--nested-ps": 1, "--evar": 1, "--ivar": 1,
    })
    ps = _NEST_SEPS.get(fl.get("--nested-ps", ":"), fl.get("--nested-ps", ":"))
    if "--evar" in fl or "--ivar" in fl:
        raw = fl.get("--evar") or fl.get("--ivar")
        sep = _NEST_SEPS.get(raw, raw)
        explode = "--evar" in fl
        pairs, across_fields = False, False
    else:
        raw = fl.get("--nested-fs", ";")
        sep = _NEST_SEPS.get(raw, raw)
        explode = bool(fl.get("--explode"))
        if not explode and not fl.get("--implode"):
            raise Unsupported("nest mode")
        pairs = bool(fl.get("--pairs"))
        across_fields = bool(fl.get("--across-fields"))
    implode_af = (not explode) and across_fields and not pairs
    if "-r" in fl:
        pat = _regexes([fl["-r"]])[0]
        matched = [c for c in df.columns if not c.startswith("__") and pat.search(c)]
    elif "-f" in fl:
        if fl["-f"] in df.columns or (
            implode_af and any(
                _re.fullmatch(_re.escape(fl["-f"]) + r"_\d+", c) for c in df.columns
            )
        ):
            matched = [fl["-f"]]
        else:
            matched = []
    else:
        raise Unsupported("nest field spec")
    if not matched:
        raise Unsupported("nest sep/field")
    esep = "\\|" if sep == "|" else sep

    def entries(field):
        """pieces of `field` split on fs -> array<struct<k,v>>; a piece
        without ps keeps the field name as key (nest.go:497-516)."""
        pieces = F.filter(F.split(F.col(field).cast("string"), esep), lambda p: p != "")
        return F.transform(
            pieces,
            lambda p: F.when(
                F.instr(p, ps) > 0,
                F.struct(
                    F.substring_index(p, ps, 1).alias("k"),
                    F.substr(p, F.instr(p, ps) + len(ps), F.length(p)).alias("v"),
                ),
            ).otherwise(F.struct(F.lit(field).alias("k"), p.alias("v"))),
        )

    if explode and pairs:
        if across_fields:
            # replace each matched field with its own k=v fields, placed
            # where the field was
            out = df
            for field in matched:
                ent = entries(field)
                keys = [
                    r["k"]
                    for r in out.select(F.explode(ent).alias("e"))
                    .select(F.col("e.k").alias("k")).distinct().collect()
                ]
                cols = []
                for c in out.columns:
                    if c == field:
                        for k in sorted(keys):
                            cols.append(
                                F.try_element_at(
                                    F.filter(ent, lambda e: e["k"] == F.lit(k)), F.lit(-1)
                                )["v"].alias(k)
                            )
                    else:
                        cols.append(F.col(c))
                out = out.select(*cols)
            return out
        # across-records: one output record per piece; FIRST matched
        # field only (nest.go:528-534)
        field = matched[0]
        ent = entries(field)
        has = F.col(field).isNotNull() & (F.size(ent) > 0)
        keys = [
            r["k"]
            for r in df.select(F.explode(ent).alias("e"))
            .select(F.col("e.k").alias("k")).distinct().collect()
        ]
        exploded = df.filter(F.col(field).isNotNull()).select(
            "*", F.posexplode(ent).alias("__pi", "__e")
        )
        cols = []
        for c in df.columns:
            if c == field:
                for k in sorted(keys):
                    cols.append(
                        F.when(F.col("__e.k") == k, F.col("__e.v")).alias(k)
                    )
            else:
                cols.append(F.col(c))
        exploded = exploded.select(*cols, (F.col("__ord") * 1000 + F.col("__pi")).alias("__ord2")).drop("__ord").withColumnRenamed("__ord2", "__ord")
        passthrough = df.filter(F.col(field).isNull()).drop(field)
        return exploded.unionByName(passthrough, allowMissingColumns=True)

    if explode and across_fields:
        # values across fields: field -> field_1..field_N (strings.Split:
        # empty value gives one empty piece)
        out = df
        for field in matched:
            pieces = F.split(F.col(field).cast("string"), esep)
            maxn = out.agg(F.max(F.size(pieces))).first()[0] or 0
            cols = []
            for c in out.columns:
                if c == field:
                    for i in range(1, maxn + 1):
                        cols.append(F.get(pieces, i - 1).alias(f"{field}_{i}"))
                else:
                    cols.append(F.col(c))
            out = out.select(*cols)
        return out

    if explode:
        # values across records: piece order becomes sub-record order
        field = matched[0]
        pieces = F.split(F.col(field).cast("string"), esep)
        d = df.select("*", F.posexplode_outer(pieces).alias("__pi", "__pv"))
        return (
            d.withColumn(field, F.col("__pv"))
            .withColumn(
                "__ord",
                F.col("__ord") * 100000 + F.coalesce(F.col("__pi"), F.lit(0)),
            )
            .drop("__pi", "__pv")
        )

    if pairs or across_fields:
        if not pairs and across_fields:
            # implode values across fields: x_1..x_N -> x at x_1's slot
            field = matched[0]
            base = _re.sub(r"_1$", "", field) if field.endswith("_1") else field
            parts = sorted(
                [c for c in df.columns if _re.fullmatch(_re.escape(base) + r"_\d+", c)],
                key=lambda c: int(c.rsplit("_", 1)[1]),
            )
            if not parts:
                raise Unsupported("nest implode across-fields: no parts")
            cols = []
            # a record with NO parts at all never had the field — keep
            # it ABSENT (concat_ws would fabricate ""): golden
            # verb-nest/ivaf-0001 record `u=100,y=d:60`
            all_null = F.lit(True)
            for p in parts:
                all_null = all_null & F.col(p).isNull()
            for c in df.columns:
                if c == parts[0]:
                    cols.append(
                        F.when(all_null, F.lit(None).cast("string"))
                        .otherwise(F.concat_ws(sep, *[F.col(p) for p in parts]))
                        .alias(base)
                    )
                elif c in parts:
                    continue
                else:
                    cols.append(F.col(c))
            return df.select(*cols)
        raise Unsupported("nest implode pairs")
    # implode values across records (nest.go): records WITHOUT the field
    # stream through immediately; records WITH it are buffered and the
    # imploded groups emit at END of stream, in group-first-arrival order
    field = matched[0]
    others = [c for c in df.columns if c not in (field, "__ord")]
    with_f = df.filter(F.col(field).isNotNull())
    without_f = df.filter(F.col(field).isNull())
    grouped = with_f.groupBy(*others).agg(
        (F.min("__ord") + F.lit(1 << 60)).alias("__ord"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("__ord").alias("o"), F.col(field).cast("string").alias("v"))
                    )
                ),
                lambda s: s.v,
            ),
            sep,
        ).alias(field),
    )
    return grouped.unionByName(without_f, allowMissingColumns=True)


def v_reshape(df, argv):
    fl, _ = _flags(argv, {"-i": 1, "-o": 1, "-r": "*", "-s": 1})
    if "-s" in fl:
        key, val = _csl(fl["-s"])
        if key not in df.columns or val not in df.columns:
            return df  # absent key/value fields: records pass through
        ids = [c for c in df.columns
               if c not in (key, val) and not c.startswith("__")]
        piv = ev.reshape_long_to_wide(
            df.drop(*[c for c in df.columns if c.startswith("__")]),
            key, val, ids)
        # emission: groups in first-seen order; pivoted keys per group
        # in first-seen order too (reshape.go l2w ordered maps)
        meta = df.groupBy(*[F.col(c) for c in ids]).agg(
            F.min("__ord").alias("__ord"),
            F.array_distinct(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__ord").alias("o"),
                                F.col(key).cast("string").alias("k"),
                            )
                        )
                    ),
                    lambda s: s["k"],
                )
            ).alias("__pk"),
        )
        out = piv.join(meta, ids) if ids else piv.crossJoin(meta)
        return out.withColumn(
            "__keys",
            F.concat(F.array(*[F.lit(c) for c in ids]), F.col("__pk")),
        ).drop("__pk")
    if "-r" in fl:
        # reshape -r is NOT comma-split: each -r is one whole regex
        # ("regexes can contain commas within them", reshape.go:45), and
        # repeated -r flags accumulate
        pats = _regexes(fl["-r"])
        measures = [c for c in df.columns if not c.startswith("__") and any(p.search(c) for p in pats)]
    else:
        measures = [m for m in _csl(fl["-i"]) if m in df.columns]
    if not measures or "-o" not in fl:
        raise Unsupported("reshape fields")
    key_name, val_name = _csl(fl["-o"])
    any_measure = None
    for m in measures:
        c = F.col(m).isNotNull()
        any_measure = c if any_measure is None else (any_measure | c)
    # w2l emits per input record one output per present measure, in
    # measure order (reshape.go:310-340); string-cast values keep their
    # spellings for the byte channel
    ids = [c for c in df.columns if c not in measures and c != "__keys"]
    pairs = ", ".join(
        f"'{m}', {i}, cast(`{m}` as string)" for i, m in enumerate(measures)
    )
    melted = (
        df.filter(any_measure)
        .select(
            *ids,
            F.expr(
                f"stack({len(measures)}, {pairs})"
                f" as (`{key_name}`, `__mi`, `{val_name}`)"
            ),
            *( [F.col("__keys")] if "__keys" in df.columns else [] ),
        )
        .filter(F.col(val_name).isNotNull())
        .withColumn(
            "__ord", F.col("__ord") * (1 << 8) + F.col("__mi") + 1
        )
        .drop("__mi")
    )
    if "__keys" in df.columns:
        melted = melted.withColumn(
            "__keys",
            F.concat(
                F.filter(
                    F.col("__keys"), lambda k: ~k.isin(*(measures))
                ),
                F.array(F.lit(key_name), F.lit(val_name)),
            ),
        )
    passthrough = df.filter(~any_measure).drop(*measures).withColumn(
        "__ord", F.col("__ord") * (1 << 8)
    )
    return melted.unionByName(passthrough, allowMissingColumns=True)


def v_clean_whitespace(df, argv):
    """`mlr clean-whitespace` (-k keys only / -v values only): values
    via exact.clean_whitespace; keys = column renames (the reference
    trims + collapses whitespace in field NAMES too)."""
    fl, _ = _flags(argv, {"-k": 0, "-v": 0})
    if not fl.get("-k"):
        df = ev.clean_whitespace(df)
    if not fl.get("-v"):
        for c in list(df.columns):
            if c.startswith("__"):
                continue
            c2 = _re.sub(r"\s+", " ", c.strip())
            if c2 != c:
                df = df.withColumnRenamed(c, c2)
    return df


# ---------------------------------------------------------------------------
# seeded stochastic verbs — exact replay of the reference's draw order
# through the Go math/rand replica (tests/gorand.py). Miller seeds ONE
# global generator (lib/rand.go:18) that all stochastic verbs share, so
# the rng lives in per-case TLS. Unseeded runs are nondeterministic by
# design and stay Unsupported. Replays are driver-side over the (tiny)
# golden streams; the distributed seeded variants live in mlrsketch.
# ---------------------------------------------------------------------------


def _go_rng():
    seed = getattr(_TLS, "go_seed", None)
    if seed is None:
        raise Unsupported("unseeded stochastic verb (nondeterministic)")
    if getattr(_TLS, "go_rng", None) is None:
        from mlrsketch.gorand import GoRand

        _TLS.go_rng = GoRand(seed)
    return _TLS.go_rng


def _stream_rows(df):
    """Collected records in stream order: (record-dict sans __ord, NR)."""
    rows = []
    for r in df.orderBy("__ord").collect():
        d = r.asDict()
        nr = d.pop("__ord") + 1
        rows.append((d, nr))
    return rows


def _rebuild_stream(df, dicts):
    spark = df.sparkSession
    cols = [c for c in df.columns if not c.startswith("__")]
    keep_keys = "__keys" in df.columns
    recs = [
        [d.get(c) for c in cols] + [i] + ([d.get("__keys")] if keep_keys else [])
        for i, d in enumerate(dicts)
    ]
    sel = [*cols, "__ord"] + (["__keys"] if keep_keys else [])
    return spark.createDataFrame(recs, df.select(*sel).schema)


def v_shuffle(df, argv):
    """shuffle.go:104-135: Knuth shuffle of an identity image map."""
    _flags(argv, {})
    rng = _go_rng()
    rows = [d for d, _ in _stream_rows(df)]
    n = len(rows)
    images = list(range(n))
    for i in range(n):
        u = rng.rand_range(i, n)  # unusedStart=i, numUnused=n-i
        images[u], images[i] = images[i], images[u]
    return _rebuild_stream(df, [rows[images[i]] for i in range(n)])


def v_bootstrap_seeded(df, argv):
    """bootstrap.go:141-166: nout draws of RandRange(0, nin), with
    replacement, in stream order."""
    fl, _ = _flags(argv, {"-n": 1})
    rng = _go_rng()
    rows = [d for d, _ in _stream_rows(df)]
    nin = len(rows)
    nout = int(fl["-n"]) if "-n" in fl else nin
    if nin == 0 or nout == 0:
        return df.limit(0)
    return _rebuild_stream(df, [rows[rng.rand_range(0, nin)] for _ in range(nout)])


def v_sample_seeded(df, argv):
    """sample.go:150-230: per-group reservoir; the replacement draw is
    Int63() % NR with NR the GLOBAL stream record number (sample.go:203),
    not the per-group count. Records missing a -g field are ignored."""
    fl, _ = _flags(argv, {"-k": 1, "-g": 1})
    k = int(fl["-k"])
    by = _csl(fl["-g"]) if "-g" in fl else []
    rng = _go_rng()
    buckets: dict[tuple, list] = {}
    order: list[tuple] = []
    for d, nr in _stream_rows(df):
        if by:
            vals = [d.get(g) for g in by]
            if any(v is None for v in vals):
                continue
            key = tuple(vals)
        else:
            key = ()
        b = buckets.get(key)
        if b is None:
            b = buckets[key] = []
            order.append(key)
        if len(b) < k:
            b.append(d)
        else:
            r = rng.int63() % nr
            if r < k:
                b[r] = d
    return _rebuild_stream(df, [d for key in order for d in buckets[key]])


def _mlr_pct_noninterp(sorted_vals, p):
    """bifs/percentiles.go:193-208."""
    n = len(sorted_vals)
    index = int(p * n / 100.0)
    return sorted_vals[max(0, min(index, n - 1))]


def _mlr_pct_interp(sorted_vals, p):
    """bifs/percentiles.go:9-28 (R type=7)."""
    import math as _math

    n = len(sorted_vals)
    findex = max(0.0, (p / 100.0) * (n - 1))
    iindex = int(_math.floor(findex))
    if iindex >= n - 1:
        return sorted_vals[iindex]
    frac = findex - iindex
    return sorted_vals[iindex] + frac * (sorted_vals[iindex + 1] - sorted_vals[iindex])


def _bci_stat(acc, values, interp):
    """The stats1-style statistics bootstrap-ci bootstraps
    (bootstrap_ci.go:22 enum + median/p{n})."""
    n = len(values)
    if acc == "count":
        return n
    if acc == "sum":
        return sum(values)
    if acc == "mean":
        return sum(values) / n
    if acc == "min":
        return min(values)
    if acc == "max":
        return max(values)
    if acc in ("var", "stddev", "meaneb"):
        mean = sum(values) / n
        if n < 2:
            return None
        var = sum((v - mean) ** 2 for v in values) / (n - 1)
        if acc == "var":
            return var
        if acc == "stddev":
            return var ** 0.5
        return (var / n) ** 0.5
    if acc == "median":
        acc = "p50"
    if acc.startswith("p"):
        p = float(acc[1:])
        sv = sorted(values)
        return _mlr_pct_interp(sv, p) if interp else _mlr_pct_noninterp(sv, p)
    raise Unsupported(f"bootstrap-ci -a {acc}")


def v_bootstrap_ci(df, argv):
    """bootstrap_ci.go: per group (encounter order), per -f field, per
    -a statistic: point estimate, then -n resamples each drawing len(v)
    indices via RandRange(0, len(v)); CI = percentiles of the resampled
    statistics at 100*(1±conf)/2."""
    fl, _ = _flags(argv, {"-a": 1, "-f": 1, "-g": 1, "-n": 1, "-c": 1, "-i": 0})
    accs = _csl(fl.get("-a", "mean"))
    fields = _csl(fl["-f"])
    by = _csl(fl["-g"]) if "-g" in fl else []
    n_resamples = int(fl.get("-n", 1000))
    conf = float(fl.get("-c", 0.95))
    interp = bool(fl.get("-i"))
    rng = _go_rng()
    groups: dict[tuple, dict] = {}
    order: list[tuple] = []
    for d, _nr in _stream_rows(df):
        if by:
            vals = [d.get(g) for g in by]
            if any(v is None for v in vals):
                continue
            key = tuple(vals)
        else:
            key = ()
        g = groups.get(key)
        if g is None:
            g = groups[key] = {f_: [] for f_ in fields}
            order.append(key)
        for f_ in fields:
            v = d.get(f_)
            if v is None or v == "":
                continue
            g[f_].append(float(v))
    alpha = (1.0 - conf) / 2.0
    out = []
    for key in order:
        rec = dict(zip(by, key))
        for f_ in fields:
            values = groups[key][f_]
            if not values:
                continue
            nv = len(values)
            for acc in accs:
                point = _bci_stat(acc, values, interp)
                reps = []
                for _ in range(n_resamples):
                    resample = [values[rng.rand_range(0, nv)] for _ in range(nv)]
                    reps.append(_bci_stat(acc, resample, interp))
                reps.sort()
                lo = (_mlr_pct_interp if interp else _mlr_pct_noninterp)(reps, 100.0 * alpha)
                hi = (_mlr_pct_interp if interp else _mlr_pct_noninterp)(reps, 100.0 * (1.0 - alpha))
                base = f"{f_}_{acc}"
                rec[base] = point
                rec[base + "_lo"] = lo
                rec[base + "_hi"] = hi
        out.append(rec)
    to_df = run_case.__globals__.get("_TO_DF")
    # values are already typed Python numbers — inference would int() them
    return to_df(df.sparkSession, out, infer=False)


VERBS = {
    "cat": v_cat, "head": v_head, "tail": v_tail, "cut": v_cut_regex, "sort": v_sort,
    "uniq": v_uniq, "count": v_count, "count-distinct": v_count_distinct,
    "stats1": v_stats1, "fraction": v_fraction, "top": v_top,
    "most-frequent": lambda df, a: v_most_frequent(df, a, True),
    "least-frequent": lambda df, a: v_most_frequent(df, a, False),
    "decimate": v_decimate, "fill-down": v_fill_down, "fill-empty": v_fill_empty,
    "grep": v_grep, "rename": v_rename_regex, "label": v_label, "reorder": v_reorder,
    "template": v_template, "regularize": v_regularize, "sec2gmt": v_sec2gmt,
    "sec2gmtdate": v_sec2gmtdate, "repeat": v_repeat,
    "count-similar": v_count_similar, "nothing": v_nothing, "tac": v_tac,
    "gsub": lambda df, a: v_gsub(df, a, first_only=False),
    "sub": lambda df, a: v_gsub(df, a, first_only=True),
    "ssub": lambda df, a: v_gsub(df, a, literal=True),
    "case": v_case, "having-fields": v_having_fields_full,
    "step": v_step, "stats2": v_stats2, "merge-fields": v_merge_fields,
    "unsparsify": v_unsparsify, "histogram": v_histogram,
    # sort-within-records reorders KEYS per record: rewrite the
    # per-record __keys order (renderer applies it); content unchanged
    "sort-within-records": v_sort_within_records,
    "gap": v_gap,
    "skip-trivial-records": v_skip_trivial,
    "latin1-to-utf8": v_passthrough, "put": v_put, "filter": v_filter,
    "reshape": v_reshape,
    # utf8-to-latin1 emits Miller's (error) value for unencodable text —
    # error-as-value (MT_ERROR) isn't modeled here

    "regularize": v_regularize, "sparsify": v_sparsify, "nest": v_nest,
    "rank": v_rank, "tee": v_tee, "group-by": v_group_by, "unspace": v_unspace,
    "clean-whitespace": v_clean_whitespace,
    "altkv": v_altkv, "remove-empty-columns": v_remove_empty_columns,
    "format-values": v_format_values, "split": v_split, "summary": v_summary,
    "flatten": v_flatten, "unflatten": v_unflatten, "json-parse": v_json_parse,
    "json-stringify": v_json_stringify, "describe": v_describe,
    "surv": v_surv, "utf8-to-latin1": v_utf8_to_latin1,
    "shuffle": v_shuffle, "bootstrap": v_bootstrap_seeded,
    "sample": v_sample_seeded, "bootstrap-ci": v_bootstrap_ci,
    "group-like": v_group_like, "check": v_check,
    "sparkline": v_sparkline, "bar": v_bar,
}

# Verbs whose output carries a faithful Miller emission order in the
# __ord column (streaming pass-through, or an explicit re-ordering that
# rewrites __ord). A chain containing any OTHER verb falls back to the
# unordered (content-only) compare.
ORDER_PRESERVING = {
    "cat", "head", "tail", "cut", "sort", "tac", "grep", "put", "filter",
    "having-fields", "fill-down", "fill-empty", "sub", "gsub", "ssub",
    "case", "sec2gmt", "sec2gmtdate", "clean-whitespace", "step",
    "decimate", "fraction", "rank", "label", "rename", "reorder",
    "template", "regularize", "sparsify", "unsparsify",
    "skip-trivial-records", "sort-within-records", "gap", "tee",
    "nothing", "altkv", "flatten", "unflatten", "json-parse",
    "json-stringify", "describe", "summary", "seqgen", "group-by",
    "merge-fields", "format-values", "unspace", "remove-empty-columns",
    "latin1-to-utf8", "utf8-to-latin1", "surv", "nest", "split",
    "shuffle", "bootstrap", "sample", "bootstrap-ci", "repeat",
    "count-similar", "group-like", "check", "sparkline", "bar",
    # agg modes of these drop __ord (falling back to unordered); their
    # streaming modes (-s/-w/-a) keep it faithfully
    "stats1", "stats2", "uniq",
    # grouped aggregates emit in FIRST-SEEN group order (min __ord per
    # group — the reference streams ordered maps); most/least-frequent
    # and top carry the reference's own emission ranks; histogram
    # ascends bins
    "count", "count-distinct", "most-frequent", "least-frequent", "top",
    "histogram",
    # right-driven emission order modeled in v_join (sort-merge --ul
    # flags itself unordered via _TLS.join_unordered)
    "join",
    # w2l: per record, measures in order; l2w: groups first-seen at EOS
    "reshape",
}

# Per-verb VALUE-taking flags, used to keep a trailing `FLAG path`
# pair from being mistaken for a positional input file. Only flags
# that can plausibly precede a path-looking token matter.
VERB_VALUE_FLAGS = {
    "case": {"-f"},
    "clean-whitespace": set(),
    "fill-empty": {"-v"},
    "grep": set(),
    "gap": {"-n", "-g"},
    "unspace": {"-f"},
    "cat": {"-N", "-g"},
    "rank": {"-f", "-g"},
    "top": {"-f", "-g", "-n", "-o"},
    "uniq": {"-g", "-f", "-x", "-o"},
    "count": {"-g", "-o"},
    "sparsify": {"-s", "-f"},
    "format-values": {"-i", "-f", "-s"},
    "tee": {"-o"},
    "group-by": set(),
    "altkv": set(),
    "remove-empty-columns": set(),
    "sort": {"-f", "-r", "-nf", "-nr", "-c", "-cr", "-t", "-tr", "-rt"},
    "having-fields": {"--at-least", "--all-defined", "--which-are", "--at-most",
                      "--any-defined", "--all-matching", "--any-matching",
                      "--none-matching"},
    "sec2gmt": set(),
    "sec2gmtdate": set(),
    "nothing": set(),
    "tac": set(),
    "shuffle": set(),
    "bootstrap": {"-n"},
    "sample": {"-k", "-g"},
    "bootstrap-ci": {"-a", "-f", "-g", "-n", "-c"},
    "histogram": {"-f", "--lo", "--hi", "--nbins", "-o"},
    "fill-down": {"-f"},
    "fill-empty": {"-v"},
    "most-frequent": {"-f", "-n", "-o"},
    "least-frequent": {"-f", "-n", "-o"},
    "surv": {"-d", "-s", "-g"},
    "utf8-to-latin1": set(),
    "latin1-to-utf8": set(),
    "sort-within-records": set(),
    "describe": {"-n", "--max-values"},
    "summary": {"-a", "-x"},
    "flatten": {"-f", "-s"},
    "unflatten": {"-f", "-s"},
    "json-parse": {"-f"},
    "json-stringify": {"-f"},
    "unsparsify": {"--fill-with", "-f"},
    "group-like": set(),
    "check": set(),
    "sparkline": {"-f"},
    "bar": {"-f", "--lo", "--hi", "-w", "-c", "-x", "-b"},
}

_FMT_NAMES = {
    "csv": "csv", "csvlite": "csv", "tsv": "tsv", "tsvlite": "tsv",
    "json": "json", "jsonl": "jsonl", "dkvp": "dkvp", "nidx": "nidx",
    "xtab": "xtab", "pprint": "pprint", "markdown": "markdown",
    "yaml": "yaml", "recutils": "recutils", "dcf": "dcf",
}

_FMT_FLAGS = {
    # (input_format_or_None, output_format_or_None) — output-only flags
    # must NOT touch the input side
    "--opprint": (None, "pprint"), "--oxtab": (None, "xtab"),
    "--ocsv": (None, "csv"), "--icsv": ("csv", None), "--csv": ("csv", "csv"),
    "--csvlite": ("csv", "csv"), "--c2p": ("csv", "pprint"), "--pprint": ("pprint", "pprint"),
    "--dkvp": ("dkvp", "dkvp"), "--idkvp": ("dkvp", None), "--odkvp": (None, "dkvp"),
    "--icsvlite": ("csv", None), "--ocsvlite": (None, "csv"),
    "--ojson": (None, "json"), "--ijson": ("json", None), "--json": ("json", "json"),
    "--ojsonl": (None, "jsonl"), "--c2j": ("csv", "json"),
    "--ixtab": ("xtab", None), "--xtab": ("xtab", "xtab"),
    "--itsv": ("tsv", None), "--otsv": (None, "tsv"), "--tsv": ("tsv", "tsv"),
    "--itsvlite": ("tsv", None), "--otsvlite": (None, "tsv"),
    "--inidx": ("nidx", None), "--onidx": (None, "nidx"), "--nidx": ("nidx", "nidx"),
    "--ipprint": ("pprint", None),
    "--iyaml": ("yaml", None), "--oyaml": (None, "yaml"),
    "--yaml": ("yaml", "yaml"),
    "--imd": ("markdown", None), "--imarkdown": ("markdown", None),
    "--irecutils": ("recutils", None), "--orecutils": (None, "recutils"),
    "--recutils": ("recutils", "recutils"),
    "--idcf": ("dcf", None), "--odcf": (None, "dcf"),
    "--dcf": ("dcf", "dcf"),
    "--tsvlite": ("tsv", "tsv"),
    "-c": ("csv", "csv"), "--c2c": ("csv", "csv"),
    "-t": ("tsv", "tsv"), "--t2t": ("tsv", "tsv"),
}

# shorthand --a2b conversion flags: a=input format, b=output format
_FMT_LETTERS = {"c": "csv", "t": "tsv", "j": "json", "d": "dkvp", "n": "nidx",
                "x": "xtab", "p": "pprint", "m": "markdown", "y": "yaml",
                "l": "jsonl"}
for _a, _af in _FMT_LETTERS.items():
    for _b, _bf in _FMT_LETTERS.items():
        _FMT_FLAGS.setdefault(f"--{_a}2{_b}", (_af, _bf))


# separator aliases; "auto" means autodetect = each format's default
_SEP_NAMES = {"tab": "\t", "comma": ",", "space": " ", "pipe": "|",
              "semicolon": ";", "auto": None}


class ExecResult:
    """Outcome of executing one mlr-style command line: either a record
    stream (`records`) or raw text output (`text`, print/dump-only DSL
    programs), plus the output-side context a writer or comparator
    needs (format, separators, headerless/positional modes) and the
    DSL stderr channel."""

    __slots__ = ("records", "text", "ordered", "ofmt", "ofs", "flatsep",
                 "headerless_out", "quoted_dkvp", "ofmt_num", "olite",
                 "stderr", "last_verb", "no_auto_unflatten", "float_ofmt",
                 "render_opts", "render_records")

    def __init__(self, records=None, text=None, ordered=True, ofmt="dkvp",
                 ofs=None, flatsep=".", headerless_out=False,
                 quoted_dkvp=False, ofmt_num=None, olite=False,
                 stderr=(), last_verb="", no_auto_unflatten=False,
                 float_ofmt=None, render_opts=None, render_records=None):
        # render_records: NATIVE typed records for the byte-render path
        # when the compare channel (`records`) had to stay flat — set by
        # verbs that restructure nesting (flatten/json-stringify/...)
        self.render_records = render_records
        self.records = records
        self.text = text
        self.ordered = ordered
        self.ofmt = ofmt
        self.ofs = ofs
        self.flatsep = flatsep
        self.headerless_out = headerless_out
        self.quoted_dkvp = quoted_dkvp
        self.ofmt_num = ofmt_num
        self.olite = olite
        self.stderr = stderr
        self.last_verb = last_verb
        self.no_auto_unflatten = no_auto_unflatten
        # effective float output format for a renderer (--ofmt, else
        # the harness/environment MLR_OFMT default)
        self.float_ofmt = float_ofmt
        # presentation-only writer switches (--barred, --right-align-numeric)
        self.render_opts = render_opts or {}


def execute(spark, cmd, to_df=None, env: dict | None = None) -> ExecResult:
    """Public CLI seam: run one mlr-style command line (a string, or a
    pre-split argv list; the leading ``mlr`` is optional) over its input
    files and return the resulting record stream plus render context.
    Raises Unsupported for anything outside the interpreter's surface.
    MLR_OFMT in `env` sets the float output format, as in the
    reference."""
    if to_df is None:
        to_df = globals()["to_df"]
    env = env or {}
    return _exec_argv(spark, cmd, to_df, env, default_ofmt=env.get("MLR_OFMT"),
                      prefer_interp=True)


def run_case(spark, case_dir: str, to_df, allow_should_fail: bool = False):
    """Execute one golden case; returns (got_records, exp_records).
    Raises Unsupported for anything outside the interpreter's surface."""
    with open(os.path.join(case_dir, "cmd")) as f:
        cmd = f.read().strip()
    if "should-fail" in os.listdir(case_dir) and not allow_should_fail:
        raise Unsupported("should-fail case")
    env_overrides = {}
    envf = os.path.join(case_dir, "env")
    if os.path.exists(envf):
        with open(envf) as fh:
            for line in fh:
                k, _, v = line.strip().partition("=")
                if k:
                    env_overrides[k] = v
        if any(k.startswith("MLR") for k in env_overrides):
            raise Unsupported("mlrrc/shell env")
    experr = os.path.join(case_dir, "experr")
    expout_path = os.path.join(case_dir, "expout")
    expect_err_text = None
    if (
        not allow_should_fail
        and os.path.exists(experr)
        and os.path.getsize(experr) > 0
        and (not os.path.exists(expout_path) or os.path.getsize(expout_path) == 0)
    ):
        # stderr-only output. DSL chains can model it (redirect > stderr
        # runs on the interp's err channel and compares against experr);
        # anything else is a true expected-FAILURE case
        with open(experr, "rb") as fh:
            expect_err_text = fh.read().decode("utf-8", "replace")
        cmd_tokens = set(
            open(os.path.join(case_dir, "cmd")).read().split()
        )
        if not ({"put", "filter", "check"} & cmd_tokens):
            raise Unsupported("expected-error case")
    # ${CASEDIR} resolves to a scratch MIRROR of the case dir when the
    # case may WRITE into it (postcmp, or a tee/split chain aiming at
    # ${CASEDIR}) — the reference tree is read-only and must never be
    # written. Read-only ${CASEDIR} uses keep the real dir: goldens
    # like dsl-stat/0001 embed the input PATH in expout, so gratuitous
    # mirroring would corrupt those comparisons.
    import re as _re2

    workdir = case_dir
    if os.path.exists(os.path.join(case_dir, "postcmp")) or (
        "${CASEDIR}" in cmd and _re2.search(r"\b(tee|split)\b", cmd)
    ):
        import shutil
        import tempfile

        workdir = tempfile.mkdtemp(prefix="mlrcase_")
        for fn in os.listdir(case_dir):
            src = os.path.join(case_dir, fn)
            if os.path.isfile(src):
                shutil.copy(src, os.path.join(workdir, fn))
    cmd = (
        cmd.replace("./${CASEDIR}", workdir)
        .replace("${CASEDIR}", workdir)
        .replace("./" + case_dir, case_dir)
    )
    if shlex.split(cmd)[:1] not in (["mlr"], ["${MLR}"]):
        raise Unsupported("not mlr")
    # the reference regtest harness runs EVERY case with MLR_OFMT=%.8f
    # (regtester.go:161); an explicit --ofmt overrides it
    res = _exec_argv(spark, cmd, to_df, env_overrides, default_ofmt="%.8f")
    return _compare_result(res, case_dir, expect_err_text)


def _order_record(rec: dict, rkeys) -> dict:
    """Reapply a record's ORIGINAL key order (carried through the plan in
    the internal __keys column) on top of the union-schema column order:
    the contiguous run of original keys is emitted in its original
    sequence at the position of its first member; keys added by verbs
    keep their schema position (new columns append at the end; `cat -n`
    prepends n as the first schema column)."""
    if not rkeys:
        return rec
    members = [k for k in rkeys if k in rec]
    if not members:
        return rec
    mset = set(members)
    out: dict = {}
    placed = False
    for k in rec:
        if k in mset:
            if not placed:
                for m in members:
                    out[m] = rec[m]
                placed = True
        else:
            out[k] = rec[k]
    return out


def _df_records(df) -> list[dict]:
    """Materialize a mid-chain DataFrame into render-ready records for
    the file-writing verbs (split/tee) — same rules as the end-of-chain
    byte path: boolean lowercase, __ord emission order, fill-empty -S
    sentinel strip, VOID restoration via __keys, original key-order
    reapplication. Driver-side at CLI test scale by design."""
    for c, t in df.dtypes:
        if t == "boolean":
            df = df.withColumn(
                c, F.when(F.col(c), "true").when(~F.col(c), "false")
            )
    if "__ord" in df.columns:
        df = df.orderBy("__ord")

    def _unfs(v):
        return v[1:] if isinstance(v, str) and v[:1] == "\x00" else v

    out = []
    for r in df.collect():
        d = r.asDict()
        rec = {k: _unfs(v) for k, v in d.items() if not k.startswith("__")}
        rkeys = d.get("__keys")
        if rkeys:
            for k in rkeys:
                if k in rec and rec[k] is None:
                    rec[k] = ""
        out.append(_order_record(rec, rkeys))
    return out


def _write_records_file(records, path: str, ofmt: str, append: bool = False):
    """Render records in `ofmt` with the chain's active float format and
    write them to `path` (split/tee file side-outputs). Refuses to
    create files under the read-only reference tree."""
    from mlrsketch.writers import render as _render

    real = os.path.realpath(path)
    if real.startswith("/root/reference/"):
        raise Unsupported(f"refusing to write into reference tree: {path}")
    parent = os.path.dirname(real)
    if parent:
        os.makedirs(parent, exist_ok=True)
    txt = _render(
        records, ofmt, flatsep=getattr(_TLS, "flatsep", "."),
        float_ofmt=getattr(_TLS, "ofmt_go", None),
    )
    with open(real, "a" if append else "w") as fh:
        fh.write(txt)


_SPLIT_OFMT_FLAGS = {
    "--ojson": "json", "--ojsonl": "jsonl", "--ocsv": "csv",
    "--ocsvlite": "csvlite", "--otsv": "tsv", "--opprint": "pprint",
    "--oxtab": "xtab", "--omd": "markdown", "--odkvp": "dkvp",
    "--onidx": "nidx",
}


def _ctx_result(records, ofmt, ofs, flatsep, headerless_out, quoted_dkvp,
                ofmt_num, olite, no_auto_unflatten, chains,
                ordered=True, text=None) -> ExecResult:
    float_ofmt = getattr(_TLS, "ofmt_go", None) or None
    render_opts = dict(getattr(_TLS, "render_opts", {}) or {})
    render_records = getattr(_TLS, "render_records", None)
    if not ordered and records is not None and len(records) <= 1:
        # a 0/1-record stream (e.g. `uniq -a -n`) is trivially ordered,
        # so the byte channel can render it
        ordered = True
    return ExecResult(
        records=records, text=text, ordered=ordered, ofmt=ofmt, ofs=ofs,
        flatsep=flatsep, headerless_out=headerless_out,
        quoted_dkvp=quoted_dkvp, ofmt_num=ofmt_num, olite=olite,
        stderr=list(getattr(_TLS, "dsl_stderr", [])),
        last_verb=(chains[-1][0] if chains and chains[-1] else ""),
        no_auto_unflatten=no_auto_unflatten,
        float_ofmt=float_ofmt,
        render_opts=render_opts,
        render_records=render_records,
    )


def _exec_argv(spark, cmd: str, to_df, env_overrides: dict,
               default_ofmt: str | None = None,
               prefer_interp: bool = False) -> ExecResult:
    run_case.__globals__["_TO_DF"] = to_df
    _TLS.env_overrides = env_overrides
    _TLS.render_opts = {}
    _TLS.render_records = None
    _TLS.prepipe = None
    # the CLI/byte path favors the stream interpreter for put/filter —
    # it executes on the original records (printrep preservation, exact
    # int/float typing); the golden record gate keeps the compiled tier
    # primary so the Catalyst compiler stays corpus-tested
    _TLS.prefer_interp = prefer_interp
    argv = shlex.split(cmd) if isinstance(cmd, str) else list(cmd)
    # ${MLR} is the regtest harness's path-to-the-binary placeholder
    # (regtester.go) — as the leading token it just means "mlr"
    if argv and argv[0] in ("mlr", "${MLR}"):
        argv = argv[1:]
    if not argv:
        raise Unsupported("empty command")

    ifmt, ofmt = "dkvp", "dkvp"
    files: list[str] = []
    i = 0
    no_input = False
    ifs = None
    ofs = None
    ofmt_num = None
    str_only = False
    tz_name = None
    go_seed = None
    flatsep = "."
    comment_skip = None
    comment_pass = None
    infer_mode = None
    lazy_quotes = False
    repifs = False
    ifs_regex = None
    custom_irs = None
    implicit_header = False
    headerless_out = False
    ragged = False
    ilite = False
    olite = False
    ips = None
    dedupe_names = True
    forced_codec = None
    barred_input = False
    no_auto_unflatten = False
    dsl_preloads: list[str] = []
    igen = False
    gen_field = "i"
    gen_params = {"start": 1, "stop": 100, "step": 1}
    quoted_dkvp = False
    while i < len(argv):
        a = argv[i]
        if a in _FMT_FLAGS:
            fi, fo = _FMT_FLAGS[a]
            ifmt, ofmt = fi or ifmt, fo or ofmt
            if "lite" in a:
                ilite = ilite or bool(fi)
                olite = olite or bool(fo)
            i += 1
        elif a in ("-i", "-o", "--io"):
            if argv[i + 1] == "dkvpx":
                if a in ("-i", "--io"):
                    ifmt = "dkvp"
                if a in ("-o", "--io"):
                    ofmt = "dkvp"
                quoted_dkvp = True
                i += 2
                continue
            f_ = _FMT_NAMES.get(argv[i + 1])
            if f_ is None:
                raise Unsupported(f"global {a} {argv[i + 1]}")
            if a in ("-i", "--io"):
                ifmt = f_
                ilite = ilite or "lite" in argv[i + 1]
            if a in ("-o", "--io"):
                ofmt = f_
                olite = olite or "lite" in argv[i + 1]
            i += 2
        elif a == "--ifs":
            ifs = _SEP_NAMES.get(argv[i + 1], argv[i + 1])
            i += 2
        elif a == "--ofs":
            ofs = _SEP_NAMES.get(argv[i + 1], argv[i + 1])
            i += 2
        elif a == "--fs":
            ifs = ofs = _SEP_NAMES.get(argv[i + 1], argv[i + 1])
            i += 2
        elif a in ("--jvstack", "--no-jvstack", "--jlistwrap", "--no-jlistwrap"):
            if a == "--no-jvstack":
                _TLS.render_opts["no_jvstack"] = True
            i += 1  # JSON output layout only; json.loads doesn't care
        elif a == "--jvquoteall":
            # quote ALL scalar values in json output (json_writer.go)
            _TLS.render_opts["json_quote_all"] = True
            i += 1
        elif a == "--jflatsep":
            flatsep = argv[i + 1]
            i += 2
        elif a == "--barred":
            _TLS.render_opts["barred"] = True
            i += 1  # output decoration only; parse_out strips it
        elif a == "--no-yarray":
            # yaml output as --- documents instead of one sequence
            _TLS.render_opts["no_yarray"] = True
            i += 1
        elif a == "--flatsep" or a == "--oflatsep" or a == "--iflatsep":
            flatsep = argv[i + 1]
            i += 2
        elif a == "--from":
            files.append(argv[i + 1])
            i += 2
        elif a == "-n":
            no_input = True
            i += 1
        elif a == "--ofmt":
            ofmt_num = argv[i + 1]  # applied to float outputs at collect
            i += 2
        elif a in ("--irs", "--ors", "--rs"):
            # record separators: splitlines() handles lf/crlf/cr
            # universally; lflf is paragraph mode (blank-line records)
            if argv[i + 1] == "lflf":
                if a in ("--irs", "--rs"):
                    custom_irs = "\n\n"
                if a in ("--ors", "--rs"):
                    _TLS.render_opts["ors2"] = True
                i += 2
                continue
            if argv[i + 1] not in ("auto", "lf", "crlf", "cr", "\\n", "\n"):
                raise Unsupported(f"record separator {argv[i + 1]}")
            i += 2
        elif a == "--skip-comments":
            comment_skip = "#"
            i += 1
        elif a == "--skip-comments-with":
            comment_skip = argv[i + 1]
            i += 2
        elif a == "--pass-comments":
            comment_pass = "#"
            i += 1
        elif a == "--pass-comments-with":
            comment_pass = argv[i + 1]
            i += 2
        elif a in ("--implicit-csv-header", "--headerless-csv-input",
                   "--hi", "--implicit-header", "--implicit-tsv-header"):
            implicit_header = True
            i += 1
        elif a in ("--headerless-csv-output", "--ho",
                   "--headerless-tsv-output"):
            headerless_out = True
            i += 1
        elif a in ("--allow-ragged-csv-input", "--ragged",
                   "--allow-ragged-tsv-input"):
            ragged = True
            i += 1
        elif a == "-N":
            # shorthand for --implicit-csv-header + --headerless-csv-output
            implicit_header = True
            headerless_out = True
            i += 1
        elif a == "--ips":
            ips = {"tab": "\t", "comma": ",", "space": " ", "colon": ":",
                   "equals": "=", "semicolon": ";", "pipe": "|"}.get(
                argv[i + 1], argv[i + 1])
            i += 2
        elif a == "--ops":
            _TLS.render_opts["ops"] = {
                "tab": "\t", "comma": ",", "space": " ", "colon": ":",
                "equals": "=", "semicolon": ";", "pipe": "|",
            }.get(argv[i + 1], argv[i + 1])
            i += 2
        elif a == "--repifs":
            repifs = True
            i += 1
        elif a == "--ifs-regex":
            ifs_regex = {
                "spaces": "( )+", "tabs": "(\\t)+",
                "whitespace": "([ \\t])+",
            }.get(argv[i + 1], argv[i + 1])
            i += 2
        elif a == "--jquoteall":
            i += 1  # Miller-5 compat no-op (json output is typed in v6)
        elif a == "--quote-all":
            _TLS.render_opts["quote_all"] = True
            i += 1
        elif a == "--iusv":
            ifmt = "csv"
            ilite = True
            ifs = "\u241f"
            custom_irs = "\u241e"
            i += 1
        elif a == "--iasv":
            ifmt = "csv"
            ilite = True
            ifs = "\x1f"
            custom_irs = "\x1e"
            i += 1
        elif a == "--zstdin":
            forced_codec = "zst"
            i += 1
        elif a == "--xvright":
            _TLS.render_opts["xvright"] = True
            i += 1
        elif a == "--omd-aligned":
            ofmt = "markdown"
            _TLS.render_opts["md_aligned"] = True
            i += 1
        elif a == "--lazy-quotes":
            lazy_quotes = True
            i += 1
        elif a in ("-A", "--infer-int-as-float"):
            infer_mode = "float"
            i += 1
        elif a in ("-O", "--infer-octal"):
            infer_mode = "octal"
            i += 1
        elif a in ("--right-align-numeric", "--right"):
            _TLS.render_opts["right_all" if a == "--right" else "right_numeric"] = True
            i += 1  # pprint alignment only; value-level no-op
        elif a == "-S":
            # global -S: all field values import as STRINGS (no type
            # inference; dsl-int-function suite)
            str_only = True
            _TLS.render_opts["str_only"] = True
            i += 1
        elif a in ("--no-dedupe-field-names",):
            dedupe_names = False
            i += 1
        elif a in ("--gzin", "--bz2in", "--zin"):
            forced_codec = {"--gzin": "gz", "--bz2in": "bz2", "--zin": "z"}[a]
            i += 1
        elif a == "--barred-input":
            barred_input = True
            i += 1
        elif a in ("--load", "--mload"):
            # preamble DSL files (functions/subroutines) prepended to
            # every put/filter program. --load takes one file-or-dir;
            # --mload takes files until "--".
            import glob as _glob
            paths = []
            if a == "--load":
                paths.append(argv[i + 1])
                i += 2
            else:
                i += 1
                while i < len(argv) and argv[i] != "--":
                    paths.append(argv[i])
                    i += 1
                if i < len(argv) and argv[i] == "--":
                    i += 1
            for pth in paths:
                full = pth if os.path.exists(pth) else os.path.join(
                    "/root/reference", pth)
                if os.path.isdir(full):
                    for f2 in sorted(_glob.glob(os.path.join(full, "*.mlr"))):
                        with open(f2) as fh:
                            dsl_preloads.append(fh.read())
                elif os.path.isfile(full):
                    with open(full) as fh:
                        dsl_preloads.append(fh.read())
                else:
                    raise Unsupported(f"--load path missing: {pth}")
            continue
        elif a == "--no-auto-unflatten":
            # JSON output keeps flattened (dotted) keys literal instead
            # of re-nesting them. The record-level compare flattens both
            # sides, so this only changes the interp's text-JSON sink.
            no_auto_unflatten = True
            i += 1
        elif a == "--ojsonl":
            ofmt = "jsonl"
            i += 1
        elif a == "--ijsonl":
            ifmt = "jsonl"
            i += 1
        elif a == "--jsonl":
            ifmt = ofmt = "jsonl"
            i += 1
        elif a == "--omd":
            ofmt = "markdown"
            i += 1
        elif a == "-j":
            ifmt = ofmt = "json"
            i += 1
        elif a == "--igen":
            igen = True
            i += 1
        elif a == "--gen-field-name":
            igen = True
            gen_field = argv[i + 1]
            i += 2
        elif a in ("--gen-start", "--gen-stop", "--gen-step"):
            igen = True
            gen_params[a[6:]] = int(argv[i + 1])
            i += 2
        elif a in ("--dkvpx", "--idkvpx", "--odkvpx"):
            if a != "--odkvpx":
                ifmt = "dkvp"
            if a != "--idkvpx":
                ofmt = "dkvp"
            quoted_dkvp = True
            i += 1
        elif a == "--tz":
            tz_name = argv[i + 1]
            i += 2
        elif a == "--errors-json":
            # changes stderr error RENDERING only (exit code and stdout
            # unchanged) — stderr isn't compared by this harness
            i += 1
        elif a == "--seed":
            # option_parse.go:3984 TryIntFromString: decimal/hex/octal/binary
            go_seed = int(argv[i + 1], 0)
            i += 2
        elif a in ("--prepipe", "--prepipex"):
            # run each input through a shell command before parsing
            # (lib.OpenFileForRead prepipe). ${MLR} resolves to THIS
            # engine's CLI in a subprocess (the reference regtester
            # substitutes its own binary the same way).
            _TLS.prepipe = (argv[i + 1], a == "--prepipex")
            i += 2
        elif a.startswith("--"):
            raise Unsupported(f"global flag {a}")
        else:
            break
        continue

    from mlrsketch.dsl import interp as _MIm

    _MIm.set_infer_mode(infer_mode)
    _TLS.infer_mode = infer_mode
    if infer_mode:
        # -A/-O change scan inference; the compiled tier bakes DEFAULT
        # inference into the Catalyst plan, so route put/filter through
        # the stream interpreter, which consults the mode per value
        _TLS.prefer_interp = True
    if ifmt == "dcf":
        # DCF values are STRING-typed in the reference (FromString,
        # record_reader_dcf.go) — writers must not re-scan/OFMT them
        _TLS.render_opts["str_only"] = True
    rest = argv[i:]

    # shell stdin redirect spelled inside the cmd ("mlr ... cat < file"):
    # treat "< path" as the input file operand
    if "<" in rest:
        ri = rest.index("<")
        if ri + 1 < len(rest):
            redirected = rest[ri + 1]
            rest = rest[:ri] + rest[ri + 2:] + [redirected]

    # split on `then`
    chains: list[list[str]] = [[]]
    for a in rest:
        if a == "then":
            chains.append([])
        else:
            chains[-1].append(a)
    # skip-trivial-records in the chain relaxes the CSV reader's ragged
    # check for all-empty rows (record_reader_csv.go:263, issue #1535)
    _TLS.skip_trivial_csv = any(
        ch and ch[0] == "skip-trivial-records" for ch in chains
    )

    # trailing positional file paths on the LAST verb — but not a path
    # that is the VALUE of a value-taking flag (e.g. `join -f left.dkvp`)
    _VALUE_FLAGS = {
        "-f", "-j", "-l", "-r", "-i", "-o", "-v", "-n", "-g", "-a", "-d", "-b",
        "--lo", "--hi", "--nbins", "--start", "--stop", "--step", "--fill-with", "-t", "-s",
        "--lp", "--rp", "--at-least", "--all-defined",
    }
    last = chains[-1]
    last_verb = last[0] if last else ""
    value_flags = VERB_VALUE_FLAGS.get(last_verb, _VALUE_FLAGS)
    popped: list[str] = []
    def _path_of(tok: str) -> str:
        # file:// URI scheme resolves to the plain path (lib/readfiles)
        return tok[len("file://"):] if tok.startswith("file://") else tok

    while (
        last
        and not last[-1].startswith("-")
        and (
            os.path.isfile(os.path.join("/root/reference", _path_of(last[-1])))
            or os.path.isfile(_path_of(last[-1]))
        )
        and not (len(last) >= 2 and last[-2] in value_flags)
    ):
        popped.append(_path_of(last.pop()))
    # --from files first (cmd order), then trailing positionals (popping
    # walked right-to-left, so reverse to restore cmd order)
    files = files + list(reversed(popped))

    if not files and not no_input and not igen and chains[0][0] != "seqgen":
        if any(ch and ch[0] in ("put", "filter") for ch in chains):
            # no file and empty stdin (the regtest supplies none):
            # put/filter end-blocks can still print/emit over an empty
            # stream — same path as `mlr -n`
            no_input = True
        else:
            raise Unsupported("no input file resolved")

    has_dsl = any(chain and chain[0] in ("put", "filter") for chain in chains)
    dsl_text = cmd
    for chain in chains:
        if chain and chain[0] in ("put", "filter") and "-f" in chain:
            fpath = chain[chain.index("-f") + 1]
            full = fpath if os.path.isfile(fpath) else os.path.join("/root/reference", fpath)
            if os.path.isfile(full):
                with open(full) as fh:
                    dsl_text += fh.read()
    _TLS.flatsep = flatsep
    _TLS.ifmt = ifmt
    _TLS.ofmt = ofmt
    _TLS.chain_is_last = False
    _TLS.df_pristine = False
    _TLS.orig_records = []
    _TLS.orig_json = []
    _TLS.ofmt_go = ofmt_num if ofmt_num is not None else default_ofmt
    _TLS.go_seed = go_seed
    _TLS.no_auto_unflatten = no_auto_unflatten
    _TLS.dsl_preloads = dsl_preloads
    _TLS.go_rng = None
    _TLS.str_only = str_only
    _TLS.has_forced_str = False
    _TLS.dsl_stderr = []
    _TLS.tz = tz_name or getattr(_TLS, "env_overrides", {}).get("TZ")
    needs_filectx = (
        has_dsl and any(tok in dsl_text for tok in ("FNR", "FILENAME", "FILENUM"))
    ) or any(
        chain and chain[0] == "cat" and ("--filename" in chain or "--filenum" in chain)
        for chain in chains
    ) or any(
        # check's empty-key warning names the offending file
        chain and chain[0] == "check" for chain in chains
    )
    spark_df = None
    if igen and not files:
        # --igen pseudo-reader (reference record_reader_gen): counts
        # gen_field from start to stop inclusive by step
        start, stop, step = (gen_params["start"], gen_params["stop"],
                             gen_params["step"])
        if step == 0:
            raise Unsupported("igen step 0")
        seq = range(start, stop + (1 if step > 0 else -1), step)
        recs = [{gen_field: str(v)} for v in seq]
        if not recs:
            return _ctx_result(
                [], ofmt, ofs, flatsep, headerless_out, quoted_dkvp,
                ofmt_num, olite, no_auto_unflatten, chains)
        spark_df = to_df(spark, recs, infer=True)
        _TLS.orig_records = recs
        _TLS.df_pristine = True
    # stash the comment flags for side-file readers (join -f honors the
    # global --skip/--pass-comments like the reference's reader options)
    _TLS.comment_skip = comment_skip
    _TLS.comment_pass = comment_pass
    _TLS.comment_sink_join = []
    if files:
        recs: list[dict] = []
        all_comments: list[tuple[int, str]] = []
        file_comments: list[tuple[int, str]] = []
        for fidx, f_ in enumerate(files):
            rs = _read_records(
                f_,
                icsv=(ifmt if ifmt in (
                    "xtab", "pprint", "tsv", "nidx", "markdown",
                    "yaml", "recutils", "dcf",
                ) else ifmt == "csv"),
                jsonin=(ifmt in ("json", "jsonl")),
                ifs=ifs,
                flatsep=flatsep,
                comment_skip=comment_skip,
                implicit_header=implicit_header,
                ragged=ragged,
                lite=ilite,
                ips=ips,
                codec=forced_codec,
                barred=barred_input,
                dedupe=dedupe_names,
                quoted_dkvp=quoted_dkvp,
                native_sink=(_TLS.orig_json
                             if ifmt in ("json", "jsonl", "yaml",
                                         "recutils", "dcf") else None),
                comment_pass=comment_pass,
                comment_sink=file_comments,
                repifs=repifs,
                ifs_regex=ifs_regex,
                custom_irs=custom_irs,
                lazy_quotes=lazy_quotes,
            )
            for idx, cln in file_comments:
                all_comments.append((len(recs) + idx, cln))
            file_comments = []
            if needs_filectx:
                for j, r in enumerate(rs):
                    r["__fnr"] = str(j)
                    r["__fnum"] = str(fidx + 1)
                    r["__fname"] = f_
            recs.extend(rs)
        if all_comments:
            _TLS.render_opts["comments"] = all_comments
        if not recs:
            # empty main input still feeds a join's --ul side; for any
            # other verb chain the record stream is empty end-to-end
            # (DSL end-blocks that could emit are already Unsupported)
            if not any(chain and chain[0] == "join" for chain in chains):
                if any(
                    chain and chain[0] in ("put", "filter") for chain in chains
                ):
                    # DSL begin/end blocks can still emit on empty input:
                    # run the chain over an empty stream
                    spark_df = to_df(spark, [], keep_void=True)
                    _TLS.orig_records = []
                    _TLS.df_pristine = True
                else:
                    return _ctx_result(
                        [], ofmt, ofs, flatsep, headerless_out, quoted_dkvp,
                        ofmt_num, olite, no_auto_unflatten, chains)
        else:
            # DSL programs distinguish absent from void: keep "" values
            spark_df = to_df(
                spark,
                recs,
                infer=(ifmt not in ("csv", "tsv")) and not str_only,
                # nest --pairs must distinguish x="" (explodes to zero
                # pieces -> record dropped across-records) from absent x
                # (record passes through)
                # nest must distinguish x="" (explodes to zero pairs /
                # one void piece; buffered by implode) from absent x
                # (record passes through); describe types empty-vs-absent
                keep_void=has_dsl
                or any(
                    ch and ch[0] in ("nest", "describe") for ch in chains
                ),
            )
            _TLS.orig_records = recs
            _TLS.df_pristine = True

    if (
        no_input
        and not files
        and not any(
            chain and chain[0] in ("seqgen", "put", "filter") for chain in chains
        )
    ):
        # `mlr -n <verbs>`: nothing flows, nothing comes out
        return _ctx_result(
            [], ofmt, ofs, flatsep, headerless_out, quoted_dkvp,
            ofmt_num, olite, no_auto_unflatten, chains)

    ordered_ok = True
    got_override = None
    for chain_i, chain in enumerate(chains):
        if not chain:
            raise Unsupported("empty verb")
        _TLS.chain_is_last = chain_i == len(chains) - 1
        verb, vargv = chain[0], chain[1:]
        if verb not in ORDER_PRESERVING:
            ordered_ok = False
        if verb == "seqgen":
            spark_df = v_seqgen(spark, vargv).withColumn("__ord", F.monotonically_increasing_id())
            _TLS.df_pristine = False
            continue
        if verb == "join":
            # join emits in the reference's right-driven order (__ord
            # computed by v_join); sort-merge --ul interleaving is the
            # one unmodeled combination
            _TLS.join_unordered = False
            spark_df = v_join(spark, spark_df, vargv, to_df, ifmt)
            if getattr(_TLS, "join_unordered", False):
                ordered_ok = False
            if "__ord" not in spark_df.columns:
                spark_df = spark_df.withColumn(
                    "__ord", F.monotonically_increasing_id())
                ordered_ok = False
            _TLS.df_pristine = False
            continue
        if verb not in VERBS:
            raise Unsupported(f"verb {verb}")
        if (
            verb == "cat"
            and not vargv
            and getattr(_TLS, "df_pristine", False)
            and getattr(_TLS, "orig_records", None)
        ):
            # identity verb over an untouched stream: keep the stream
            # PRISTINE so the renderer can use the original records,
            # preserving per-record key order (het inputs) byte-exactly
            continue
        if spark_df is None:
            if verb in ("put", "filter"):
                # `mlr -n put/filter`: begin/end-only stream
                spark_df = to_df(spark, [], keep_void=True)
                _TLS.orig_records = []
                _TLS.df_pristine = True
            else:
                raise Unsupported("verb without input")
        try:
            spark_df = VERBS[verb](spark_df, vargv)
            _TLS.df_pristine = False
        except _RecordsResult as rr:
            got_override = rr.records
            break
        except _TextResult as tr:
            # print/dump-only output: raw-text channel
            return _ctx_result(
                None, ofmt, ofs, flatsep, headerless_out, quoted_dkvp,
                ofmt_num, olite, no_auto_unflatten, chains, text=tr.text)

    if got_override is not None:
        # DSL-last fast path: the interpreter's records are final
        got = [
            {k: v for k, v in r.items() if v is not None}
            for r in got_override
        ]
        ordered = ordered_ok
    elif getattr(_TLS, "df_pristine", False) and getattr(_TLS, "orig_records", None):
        # pristine pass-through (e.g. `--icsv --ojson cat`): the original
        # records carry the per-record KEY ORDER the union-schema
        # DataFrame cannot — byte-exact het rendering
        nested = getattr(_TLS, "orig_json", [])
        orig = _TLS.orig_records
        if (getattr(_TLS, "ifmt", "dkvp") in ("json", "jsonl", "yaml",
                                              "recutils", "dcf")
                and getattr(_TLS, "ofmt", "dkvp") in ("json", "jsonl",
                                                      "yaml")
                and len(nested) == len(orig)):
            # JSON in and out: flatten the parsed NATIVE records so
            # scalar types (int vs string "1") and number spellings
            # survive to the writer; json_typed = no string re-scan
            from mlrsketch.dsl import interp as MI

            sep = _flatsep()

            def _flat_typed(out, key, v):
                # like MI.flatten_into but EMPTY collections stay {}/[]
                # (typed) so the json writer prints them bare, not "{}"
                if isinstance(v, dict) and v:
                    for k2, v2 in v.items():
                        _flat_typed(out, f"{key}{sep}{MI.format_value(k2)}", v2)
                elif isinstance(v, list) and v:
                    for i, v2 in enumerate(v):
                        _flat_typed(out, f"{key}{sep}{i + 1}", v2)
                else:
                    out[key] = v

            got = []
            for r in nested:
                flat: dict = {}
                for k, v in r.items():
                    _flat_typed(flat, str(MI.format_value(k)), v)
                got.append(flat)
            # the byte path renders the NESTED records verbatim — no
            # final unflatten is needed or wanted (json->json is never
            # unflattened in the reference: DecideFinalUnflatten)
            _TLS.render_records = [dict(r) for r in nested]
            _TLS.render_opts["json_typed"] = True
            _TLS.render_opts["no_unflatten"] = True
        else:
            got = [
                {k: v for k, v in r.items() if not k.startswith("__")}
                for r in _TLS.orig_records
            ]
        ordered = ordered_ok
    else:
        # lowercase booleans for the text compare (DSL programs can
        # leave boolean-typed columns; Miller prints true/false)
        for c, t in spark_df.dtypes:
            if t == "boolean":
                spark_df = spark_df.withColumn(
                    c, F.when(F.col(c), "true").when(~F.col(c), "false")
                )
        ordered = ordered_ok and "__ord" in spark_df.columns
        if "__ord" in spark_df.columns:
            spark_df = spark_df.orderBy("__ord")
        def _unfs(v):  # strip the fill-empty -S forced-string sentinel
            return v[1:] if isinstance(v, str) and v[:1] == "\x00" else v

        got = []
        for r in spark_df.collect():
            d = r.asDict()
            rec = {
                k: _unfs(v) for k, v in d.items() if not k.startswith("__")
            }
            # Miller VOID restoration: a key listed in the record's own
            # __keys whose (existing) column is null was read as "" and
            # nulled by scan inference — it is VOID, not absent, and
            # must render as `k=` (mix-null-field-input, verb-repeat).
            # Keys missing from __keys stay absent (het records).
            rkeys = d.get("__keys")
            if rkeys:
                for k in rkeys:
                    if k in rec and rec[k] is None:
                        rec[k] = ""
            got.append(_order_record(rec, rkeys))
    return _ctx_result(
        got, ofmt, ofs, flatsep, headerless_out, quoted_dkvp,
        ofmt_num, olite, no_auto_unflatten, chains, ordered=ordered)


def _compare_result(res: ExecResult, case_dir: str, expect_err_text):
    """Golden-case comparison tail: turn an ExecResult plus the case's
    expout/experr into the (got, exp, ordered) triple the tests use."""
    ofmt, ofs, flatsep = res.ofmt, res.ofs, res.flatsep
    headerless_out, quoted_dkvp = res.headerless_out, res.quoted_dkvp
    ofmt_num = res.ofmt_num
    ordered = res.ordered
    got = res.records
    if got:
        # record-level compare sees the plain error token, not the
        # \x02 error-as-value carrier mark (the byte path's writers
        # strip it themselves)
        got = [
            {k: (v[1:] if isinstance(v, str) and v[:1] == "\x02" else v)
             for k, v in r.items()}
            for r in got
        ]
    if res.text is not None:
        # print/dump-only output: compare at raw-text level. The
        # reference goldens carry floats at 8-decimal print precision;
        # normalize float tokens on both sides.
        with open(os.path.join(case_dir, "expout"), "rb") as f:
            exp_text = f.read().decode("utf-8", "replace")
        g_t = _norm_float_text(res.text.rstrip("\n"))
        e_t = _norm_float_text(exp_text.rstrip("\n"))
        return (
            [{"__text__": g_t}] if g_t else [],
            [{"__text__": e_t}] if e_t else [],
            True,
        )
    if expect_err_text is not None:
        # stderr-only case: the comparison target is experr, fed by the
        # interp's err channel (redirect > stderr / eprint / edump)
        errs = res.stderr
        etxts = [p for k, p in errs if k == "txt"]
        erecs = [p for k, p in errs if k == "rec"]
        if etxts and erecs:
            raise Unsupported("mixed stderr text+records")
        if etxts or not erecs:
            g_t = _norm_float_text("".join(etxts).rstrip("\n"))
            e_t = _norm_float_text(expect_err_text.rstrip("\n"))
            return (
                [{"__text__": g_t}] if g_t else [],
                [{"__text__": e_t}] if e_t else [],
                True,
            )
        got_err = [
            {k: v for k, v in r.items()
             if v is not None and not k.startswith("__")}
            for r in erecs
        ]
        exp_err = parse_out(expect_err_text, ofmt, flatsep=flatsep, ofs=ofs)
        return got_err, exp_err, True
    if ofmt_num:
        # --ofmt: floats print through this format; quantize ours the
        # same way so the numeric compare sees print-precision values
        def _q(v):
            if isinstance(v, str) and ("." in v or "e" in v.lower()):
                try:
                    v = float(v)
                except ValueError:
                    return v
            if isinstance(v, float) and v == v and v not in (float("inf"), float("-inf")):
                try:
                    return float(ofmt_num % v)
                except (TypeError, ValueError):
                    return v
            return v

        got = [{k: _q(v) for k, v in r.items()} for r in got]
    # Tabular writers skip records with NO KEYS at all. Under the fixed
    # schema an all-null row is keyless only if the last verb can remove
    # keys from a record (cut); verbs like template keep the keys with
    # void values (pprint renders dashes) and the record survives.
    if ofmt != "json" and res.last_verb == "cut":
        got = [r for r in got if any(v is not None and v != "" for v in r.values())]
    with open(os.path.join(case_dir, "expout"), "rb") as f:
        raw = f.read()
    try:
        exp_text = raw.decode("utf-8")
    except UnicodeDecodeError:
        exp_text = raw.decode("latin-1")
    passed_comments = {
        ln for _, ln in (res.render_opts or {}).get("comments", ())
    }
    if passed_comments:
        # --pass-comments: the byte channel interleaves them; the
        # record-level compare sees records only
        exp_text = "\n".join(
            ln for ln in exp_text.splitlines() if ln not in passed_comments
        ) + ("\n" if exp_text.endswith("\n") else "")
    if ofmt == "nidx":
        # nidx output prints VALUES only (keys dropped); compare
        # positionally on both sides
        got = [
            {str(i + 1): v
             for i, v in enumerate(v for v in r.values() if v is not None)}
            for r in got
        ]
        exp = parse_out(exp_text, "nidx", flatsep=flatsep, ofs=ofs)
        return got, exp, ordered
    if headerless_out and ofmt == "pprint":
        # -N / --ho with pprint: value rows only, whitespace-joined
        got = [
            {str(i + 1): v
             for i, v in enumerate(v for v in r.values() if v is not None)}
            for r in got
        ]
        exp = [
            {str(i + 1): v for i, v in enumerate(ln.split())}
            for ln in exp_text.splitlines()
            if ln.strip() != ""
        ]
        return got, exp, ordered
    if headerless_out and ofmt in ("csv", "tsv"):
        # --headerless-csv-output: rows only, keys gone. Compare
        # positionally: our records -> keys 1..n in column order, expout
        # lines -> the same positional keys.
        sep = "\t" if ofmt == "tsv" else ","
        got = [
            {str(i + 1): v
             for i, (k, v) in enumerate(
                 (k, v) for k, v in r.items() if v is not None
             )}
            for r in got
        ]
        exp = [
            {str(i + 1): v for i, v in enumerate(ln.split(sep))}
            for ln in exp_text.splitlines()
            if ln.strip() != ""
        ]
        return got, exp, ordered
    known_keys = None
    if ofmt == "xtab" and any(
        isinstance(v, str) and "\n" in v for r in got for v in r.values()
    ):
        # multi-line values need key-anchored reassembly of the expout
        known_keys = {k for r in got for k in r}
    render_opts = res.render_opts or {}
    if render_opts.get("ors2") and ofmt in ("csv", "tsv", "dkvp", "nidx"):
        # --ors lflf doubles the record separator; collapse the blank
        # lines so the line-oriented parsers see one record per line
        # (indistinguishable from het-schema blocks by design)
        exp_text = "\n".join(
            ln for ln in exp_text.splitlines() if ln.strip() != ""
        ) + ("\n" if exp_text.endswith("\n") else "")
    exp = parse_out(exp_text, ofmt, flatsep=flatsep, ofs=ofs,
                    quoted_dkvp=(quoted_dkvp and ofmt == "dkvp"),
                    known_keys=known_keys,
                    ops=render_opts.get("ops"), olite=res.olite)
    return got, exp, ordered


# ---------------------------------------------------------------------------
# record-stream -> DataFrame construction (Miller scan-style inference)
# ---------------------------------------------------------------------------

def _infer(v: str):
    if v is None or v == "":
        return None
    # Miller's scan (Go strconv) rejects surrounding whitespace —
    # "11.6 " is a STRING; Python's int()/float() would trim it
    if isinstance(v, str) and (v[:1].isspace() or v[-1:].isspace()):
        return v
    # Miller 6 keeps leading-zero integers as strings (zip codes;
    # --infer-octal is off by default) — int("0377") then scans octal
    if isinstance(v, str) and len(v) > 1 and (
        v[0] == "0" and v[1:].isdigit() or v[:2] in ("-0", "+0") and v[2:].isdigit()
    ):
        return v
    try:
        return int(v)
    except ValueError:
        try:
            f = float(v)
        except ValueError:
            return v
        # Miller's scan inference accepts decimal/exponent forms only:
        # "inf"/"nan"/"infinity" stay strings
        if f != f or f in (float("inf"), float("-inf")):
            if not any(ch.isdigit() for ch in v):
                return v
        return f


def _infer_keep_void(v: str):
    """Like _infer but Miller VOID ("") survives as "" — required by the
    DSL, which distinguishes absent (missing key) from empty value. A
    key whose values mix numbers and "" types its column STRING; the
    DSL's carrier semantics re-infer numerics per value."""
    if v == "":
        return ""
    return _infer(v)


def to_df(spark, records: list[dict], infer: bool = True, keep_void: bool = False):
    """Union-of-keys schema (het records -> nulls), __ord = stream order.
    infer=False keeps every value a raw string (Miller VOID "" stays "",
    absent stays null) — needed by void-sensitive verbs (fill-empty).

    Column types are resolved per-key like Miller's scan inference
    (int unless any float appears; strings dominate): avoids Spark's
    createDataFrame choking on int/float mixes or all-null columns."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    keys: list[str] = []
    for r in records:
        for k in r:
            if k not in keys:
                keys.append(k)
    conv = (_infer_keep_void if keep_void else _infer) if infer else (lambda v: v)
    rows = [
        {**{k: conv(r.get(k)) for k in keys}, "__ord": i,
         "__keys": [k for k in r if not k.startswith("__")]}
        for i, r in enumerate(records)
    ]
    fields = []
    for k in keys:
        vals = [r[k] for r in rows if r[k] is not None]
        if not vals or any(isinstance(v, str) for v in vals):
            t = StringType()
            for r in rows:
                if r[k] is not None:
                    r[k] = str(r[k])
        elif any(isinstance(v, float) for v in vals):
            t = DoubleType()
            for r in rows:
                if r[k] is not None:
                    r[k] = float(r[k])
        else:
            t = LongType()
        fields.append(StructField(k, t))
    fields.append(StructField("__ord", LongType()))
    # per-record key ORDER (het inputs interleave schemas): carried as an
    # internal column so the text writers can reproduce each record's
    # original key sequence byte-exactly (see _order_keys)
    fields.append(StructField("__keys", ArrayType(StringType())))
    return spark.createDataFrame(rows, schema=StructType(fields))
