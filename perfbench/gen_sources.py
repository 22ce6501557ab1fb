"""Seeded generator for the three reference ETL sources.

Writes, under one directory:

- ``patients.csv``: UTF-8 BOM, CRLF line ends, padded header and cells,
  heights and weights in mixed units (cm, in, ft+in, m, bare numbers),
  unit-less and implausible weights, missing markers, bad sex codes and
  unparseable dates, plus duplicate rows by id and by person key;
- ``encounters.csv``: mixed ',' / ';' delimiters, a ragged extra field,
  short rows, blank lines, repeated interior headers, padded cells, five
  timestamp formats, blank / invalid / before-admit discharges, invalid
  encounter types, orphan patient ids and duplicate encounter ids;
- ``diagnoses/diagnoses_<k>.xml``: several namespaced XML documents with
  missing ``code`` / ``encounterId`` / ``isPrimary`` elements, duplicate
  (encounter, code) pairs and orphan encounter ids.

It follows the messiness taxonomy of the repository's test fixtures. Every
row is drawn from a kind whose pipeline outcome is known, so
:func:`generate` also returns the exact clean-row count of each table and
the per-reason count of the audit log that ``run_etl(..., ri_audit=True)``
must produce. Kinds are dealt in fixed-size blocks that the seed shuffles,
so every seed writes the same number of input rows of each kind; the seed
changes values, ids, row order and which rows are duplicated, which moves
the per-reason log counts by about one percent.
"""

from __future__ import annotations

import os
import random
from collections import Counter

DIAG_NS = "http://example.org/diagnosis"
N_XML_FILES = 4

GIVEN = ["Ana", "Ben", "Chloé", "Dan", "Eve", "Finn", "Grace", "李", "Hugo",
         "Ｊｏｈｎ", "Maja", "Omar", "Priya", "Yuki", "Zoë", "Ivan"]
FAMILY = ["García", "Stone", "MÜLLER", "Okafor", "Nilsen", "O'Neil", "Hopper",
          "雷", "Da Silva", "Doe", "Kowalski", "Haddad", "Rao", "Sato"]

# (height, weight, weight-log reason or None); reasons follow ops/units.py
BODY = {
    "ok_kg": ("170 cm", "65 kg", None),
    "ok_lb": ("68 in", "150 lb", None),
    "ok_ft": ("5ft 6in", "60 kg", None),
    "ok_m": ("1.8m", "90 kg", None),
    "ok_bare": ("1.75", "70 kg", None),
    "assumed_kg": ("162", "54.5", "missing_unit_assumed_kg"),
    "assumed_lb": ("180 cm", "150", "missing_unit_assumed_lb"),
    "implausible": ("220cm", "300 kg", "implausible_bmi_62.0"),
    "fixed": ("180 cm", "30 kg", "implausible_bmi_fixed"),
    "marker": ("162", "n/a", "missing_marker"),
    "no_num": ("165cm", "no weight", "no_numeric_found"),
    "missing": ("170 cm", "", "missing_value"),
    "no_height": ("tall", "70", "no_height_missing_unit"),
    "ambiguous": ("150 cm", "250", "ambiguous_missing_unit"),
}
BODY_BLOCK = (["ok_kg"] * 4 + ["ok_lb"] * 2 + ["ok_ft", "ok_m", "ok_bare"]
              + ["assumed_kg"] * 2 + ["assumed_lb"] * 2
              + ["implausible", "fixed", "marker", "no_num", "missing",
                 "no_height", "ambiguous"])
# (raw sex, log reason or None); ops/codes.py map_sex
SEX_BLOCK = ([("M", None)] * 8 + [("F", None)] * 8
             + [("O", None), ("U", "unknown_or_missing"),
                ("", "missing_value"), ("X", "invalid_code")])
# dob kinds; "blank" is a whitespace-only cell (non-null after the trim)
DOB_BLOCK = ["ymd"] * 6 + ["us"] * 5 + ["slash"] * 3 + ["short"] * 3 + [
    "missing", "blank", "bad"]
DOB_REASON = {"missing": "missing_value", "blank": "unparseable_date",
              "bad": "unparseable_date"}
PATIENT_BLOCK = len(BODY_BLOCK)

ADMIT_FORMATS = [
    "2025-{m:02d}-{d:02d}T{h:02d}:00:00+01:00",
    "{m:02d}/{d:02d}/2025 {h:02d}:30",
    "{d:02d}-{m:02d}-2025 {h:02d}:15",
    "2025/{m:02d}/{d:02d} {h:02d}:45",
    "2025-{m:02d}-{d:02d} {h:02d}:00:00",
]
# discharge kinds: after admit, before admit, blank, unparseable, short row
DIS_BLOCK = ["after"] * 15 + ["before", "blank", "blank", "invalid", "short"]
TYPE_BLOCK = (["INPATIENT"] * 6 + ["OUTPATIENT"] * 6 + ["ED"] * 4
              + [" Inpatient ", "Ed", "TELE", ""])
VALID_TYPES = {"inpatient", "outpatient", "ed"}
ENC_BLOCK = len(DIS_BLOCK)
ENC_HEADER = "encounter_id,patient_id,admit_dt,discharge_dt,encounter_type,source_file"

CODES = [("ICD-10", c) for c in ("E11.9", "I10", "J45", "R07.9", "K21.9",
                                 "M54.5", "N39.0", "F32.9", "E78.5", "J06.9")]
CODES.append(("SNOMED", "38341003"))
CODES.append(("SNOMED", "44054006"))
DIAG_BLOCK = 20
PRIMARY_BLOCK = ["true"] * 8 + ["false"] * 8 + ["TRUE", "False", None, None]
RECORDED = ["2025-{m:02d}-{d:02d}T09:00:00+01:00", "2025-{m:02d}-{d:02d}",
            "2025-{m:02d}-{d:02d}T10:00:00"]


def _dealt(rng: random.Random, block: list, n: int) -> list:
    """``n`` items dealt from shuffled copies of ``block``."""
    out: list = []
    while len(out) < n:
        b = list(block)
        rng.shuffle(b)
        out.extend(b)
    return out[:n]


def _dob(rng: random.Random, kind: str) -> str:
    y, m, d = rng.randint(1930, 2005), rng.randint(1, 12), rng.randint(1, 28)
    return {
        "ymd": f"{y}-{m:02d}-{d:02d}",
        "us": f"{m:02d}/{d:02d}/{y}",
        "slash": f"{y}/{m:02d}/{d:02d}",
        "short": f"{y}-{m}-{d}",
        "missing": "",
        "blank": "   ",
        "bad": "not a date",
    }[kind]


def _patients(rng: random.Random, n: int, tag: str) -> tuple[list[str], list[str], Counter, int]:
    """Rows, surviving ids, log-reason counts and clean-row count.

    ``n`` base rows with unique ids and person keys, then per block of
    base rows one id duplicate (same id, other given name) and one
    person duplicate (new id, identical person key)."""
    bodies = _dealt(rng, BODY_BLOCK, n)
    sexes = _dealt(rng, SEX_BLOCK, n)
    dobs = _dealt(rng, DOB_BLOCK, n)
    logs: Counter = Counter()
    base = []
    for i in range(n):
        h, w, w_reason = BODY[bodies[i]]
        sex, s_reason = sexes[i]
        dob_kind = dobs[i]
        rec = {
            "id": f"P-{tag}{i:07d}",
            "given": rng.choice(GIVEN),
            "family": f"{rng.choice(FAMILY)}-{i}",
            "dob": _dob(rng, dob_kind),
            "sex": sex,
            "height": h,
            "weight": w,
            "reasons": [r for r in (w_reason, s_reason, DOB_REASON.get(dob_kind)) if r],
        }
        base.append(rec)
    rows = list(base)
    n_dups = 0
    for start in range(0, n - PATIENT_BLOCK + 1, PATIENT_BLOCK):
        a, b = rng.sample(range(start, start + PATIENT_BLOCK), 2)
        id_dup = dict(base[a], given=base[a]["given"] + "-Jr")
        person_dup = dict(base[b], id=f"P-{tag}D{start:07d}")
        for dup in (id_dup, person_dup):
            dup["reasons"] = dup["reasons"] + ["duplicate_removed"]
            rows.insert(rng.randint(max(a, b) + 1 + n_dups, len(rows)), dup)
            n_dups += 1
    lines = ["﻿ patient_id ,given name,family_name,dob,sex, height ,weight"]
    for r in rows:
        logs.update(r["reasons"])
        pad = " " if rng.random() < 0.1 else ""
        lines.append(",".join([r["id"], r["given"], r["family"], r["dob"], r["sex"],
                               pad + r["height"] + pad, r["weight"]]))
    return lines, [r["id"] for r in base], logs, n


def _encounters(rng: random.Random, n: int, tag: str, patient_ids: list[str]):
    """Lines, encounter ids, log-reason counts and clean-row count."""
    dis = _dealt(rng, DIS_BLOCK, n)
    types = _dealt(rng, TYPE_BLOCK, n)
    orphan = set(rng.sample(range(n), n // ENC_BLOCK))
    bad_admit = set(rng.sample(range(n), n // ENC_BLOCK))
    semi = set(rng.sample(range(n), 2 * (n // ENC_BLOCK)))
    logs: Counter = Counter()
    recs = []
    for i in range(n):
        m, d, h = rng.randint(1, 12), rng.randint(2, 27), rng.randint(0, 22)
        fmt = rng.randrange(len(ADMIT_FORMATS))
        admit = ("not a date" if i in bad_admit
                 else ADMIT_FORMATS[fmt].format(m=m, d=d, h=h))
        kind = dis[i]
        if kind == "after":
            dfmt = rng.randrange(len(ADMIT_FORMATS))
            discharge = ADMIT_FORMATS[dfmt].format(m=m, d=d + 1, h=rng.randint(0, 22))
        elif kind == "before":
            discharge = ADMIT_FORMATS[fmt].format(m=m, d=d - 1, h=h)
        elif kind == "invalid":
            discharge = "n/a yet"
        else:
            discharge = ""
        pid = f"P-{tag}9{i:06d}" if i in orphan else rng.choice(patient_ids)
        recs.append({
            "id": f"E-{tag}{i:07d}", "pid": pid, "admit": admit,
            "discharge": discharge, "kind": kind, "type": types[i],
            "src": f"f{rng.randrange(3)}.csv", "admit_ok": i not in bad_admit,
        })
    # one duplicate copy per block: same encounter id, clean fields, later in file
    copies = []
    for start in range(0, n - ENC_BLOCK + 1, ENC_BLOCK):
        orig = recs[rng.randrange(start, start + ENC_BLOCK)]
        copies.append((start + ENC_BLOCK, dict(
            orig, admit="2025-06-01 08:00:00", discharge="2025-06-02 08:00:00",
            kind="after", type="OUTPATIENT", admit_ok=True, copy=True)))
        logs["duplicate_encounter_id"] += 2
    for pos, rec in reversed(copies):
        recs.insert(pos, rec)

    for r in recs:
        logs["invalid_datetime_format"] += (not r["admit_ok"]) + (r["kind"] == "invalid")
        if r.get("copy"):
            continue
        bad_order = r["admit_ok"] and r["kind"] == "before"
        logs["discharge_before_admit"] += bad_order
        logs["missing_discharge"] += bad_order or r["kind"] in ("blank", "invalid", "short")
        if r["kind"] == "short" or r["type"].strip().lower() not in VALID_TYPES:
            logs["invalid_encounter_type"] += 1
        logs["orphan_patient_id"] += r["pid"].startswith(f"P-{tag}9")

    lines = [ENC_HEADER]
    for k, r in enumerate(recs):
        if r["kind"] == "short":
            line = f"{r['id']},{r['pid']},{r['admit']}"
        else:
            fields = [r["id"], r["pid"], r["admit"], r["discharge"], r["type"], r["src"]]
            if k in semi and not r.get("copy"):
                line = ";".join(fields) + (";EXTRA" if k % 2 else "")
            else:
                line = ",".join(fields)
        if rng.random() < 0.05:
            line = "  " + line.replace(",", " , ", 1) + "  "
        lines.append(line)
        if rng.random() < 0.01:
            lines.append("")
        if rng.random() < 0.004:
            lines.append(ENC_HEADER)
    enc_ids = [r["id"] for r in recs if not r.get("copy")]
    return lines, enc_ids, +logs, len(enc_ids)


def _diagnoses(rng: random.Random, n: int, tag: str, enc_ids: list[str]):
    """XML documents, log-reason counts and clean-row count."""
    n_enc = len(enc_ids)
    if n > n_enc * len(CODES):
        raise ValueError("more diagnoses than distinct (encounter, code) pairs")
    order = list(range(n_enc))
    rng.shuffle(order)
    primary = _dealt(rng, PRIMARY_BLOCK, n)
    no_code = set(rng.sample(range(n), n // DIAG_BLOCK))
    no_enc = set(rng.sample(range(n), n // DIAG_BLOCK))
    orphan = set(rng.sample(range(n), n // DIAG_BLOCK))
    recs = []
    for i in range(n):
        system, code = CODES[(i // n_enc + order[i % n_enc]) % len(CODES)]
        enc = enc_ids[order[i % n_enc]]
        if i in orphan:
            enc = f"E-{tag}9{i:06d}"
        m, d = rng.randint(1, 12), rng.randint(1, 28)
        recs.append({
            "enc": None if i in no_enc else enc,
            "system": system,
            "code": None if i in no_code else code,
            "primary": primary[i],
            "recorded": rng.choice(RECORDED).format(m=m, d=d),
        })
    for start in range(0, n - DIAG_BLOCK + 1, DIAG_BLOCK):
        src = recs[rng.randrange(start, start + DIAG_BLOCK)]
        recs.insert(rng.randint(start + DIAG_BLOCK, len(recs)),
                    dict(src, primary="false", recorded="2025-12-31"))

    logs: Counter = Counter()
    keys: Counter = Counter()
    for r in recs:
        if r["code"] is None:
            logs["dropped for missing code"] += 1
            continue
        logs["missing encounter_id"] += r["enc"] is None
        logs["filled missing is_primary"] += r["primary"] is None
        keys[(r["enc"] or "UNKNOWN", r["code"])] += 1
    logs["duplicate encounter_id + code"] = sum(c - 1 for c in keys.values())
    known = {e.lower() for e in enc_ids}
    logs["orphan_encounter_id"] = sum(1 for e, _ in keys if e.lower() not in known)

    docs = []
    per_file = -(-len(recs) // N_XML_FILES)
    for f in range(N_XML_FILES):
        parts = ['<?xml version="1.0" encoding="UTF-8"?>',
                 f'<Diagnoses xmlns="{DIAG_NS}" version="2">']
        for r in recs[f * per_file:(f + 1) * per_file]:
            parts.append("  <Diagnosis>")
            if r["enc"] is not None:
                parts.append(f"    <encounterId>{r['enc']}</encounterId>")
            if r["code"] is not None:
                parts.append(f'    <code system="{r["system"]}">{r["code"]}</code>')
            if r["primary"] is not None:
                parts.append(f"    <isPrimary>{r['primary']}</isPrimary>")
            parts.append(f"    <recordedAt>{r['recorded']}</recordedAt>")
            parts.append("  </Diagnosis>")
        parts.append("</Diagnoses>")
        docs.append("\n".join(parts) + "\n")
    return docs, +logs, len(keys)


def generate(out_dir: str, seed: int, n: int) -> dict:
    """Write the three sources for ``seed`` with about ``n`` rows each.

    Returns ``{"paths": {...}, "input_rows": int, "clean": {table: rows},
    "reasons": {reason: rows}}`` — the exact output ``run_etl`` with
    ``ri_audit=True`` must produce for these files."""
    rng = random.Random(seed)
    tag = f"{seed % 1000:03d}"
    n = max(PATIENT_BLOCK, n - n % PATIENT_BLOCK)
    p_lines, patient_ids, p_logs, n_pat = _patients(rng, n, tag)
    e_lines, enc_ids, e_logs, n_enc = _encounters(rng, n, tag, patient_ids)
    docs, d_logs, n_diag = _diagnoses(rng, n, tag, enc_ids)

    os.makedirs(os.path.join(out_dir, "diagnoses"), exist_ok=True)
    paths = {
        "patients": os.path.join(out_dir, "patients.csv"),
        "encounters": os.path.join(out_dir, "encounters.csv"),
        "diagnoses": os.path.join(out_dir, "diagnoses"),
    }
    with open(paths["patients"], "w", encoding="utf-8", newline="") as fh:
        fh.write("\r\n".join(p_lines) + "\r\n")
    with open(paths["encounters"], "w", encoding="utf-8", newline="") as fh:
        fh.write("\n".join(e_lines) + "\n")
    for k, doc in enumerate(docs):
        with open(os.path.join(paths["diagnoses"], f"diagnoses_{k}.xml"), "w",
                  encoding="utf-8") as fh:
            fh.write(doc)

    reasons = p_logs + e_logs + d_logs
    clean = {"patients": n_pat, "encounters": n_enc, "diagnoses": n_diag,
             "logs": sum(reasons.values())}
    input_rows = (len(p_lines) - 1) + sum(1 for ln in e_lines
                                          if ln and ln != ENC_HEADER) + sum(
        d.count("<Diagnosis>") for d in docs)
    return {"paths": paths, "input_rows": input_rows, "clean": clean,
            "reasons": dict(sorted(reasons.items()))}
