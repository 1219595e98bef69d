"""Deterministic report-input generator and the benchmark's own expected values.

`generate(root, shape, seed)` writes the reference's source layout under
`root/layout`: one `dd_MM_yyyy` directory per day holding the four headered
CSVs (stage metrics, OTP summary, discovery summary, per-user funnel facts),
plus `root/layout/recipients.json`. Every cell is a pure function of
(seed, shape), so the same seed gives byte-identical files.

At fixed rates the cells carry the dirt the program must tolerate: empty
cells, non-numeric cells (cast to null under non-ANSI casts), fractional
values (truncated before the stage sum) and `fetch_status` values the status
filter drops.

`expected_tables(...)` recomputes each entity's 18-row funnel table from the
generated cells with the reference's rules, independently of Spark: stage
columns truncate each value then sum, OTP and discovery columns sum then
truncate, percentages round half-to-even on the decimal form of the double.
"""

import datetime as dt
import decimal
import json
import os
import random

STAGE_COLS = [
    "AA_client_Initialization", "OTP_Based_Sign_in_Sign_up",
    "View_Consent_Details", "Discovery", "Linking",
    "Rejected_Consent_Requests", "Approved_Consent_Requests",
    "FIP_Rejected_Consent_Artefacts", "FIP_Accepted_Consent_Artefacts",
    "Data_Fetch_Success", "Data_Fetch_Not_Attempted",
]
OTP_COLS = ["Correct_OTP_Entered", "Incorrect_OTP_Entered", "OTP_Not_Entered"]
DISC_COLS = ["Account_Discovered", "Account_not_Found", "FIP_Not_Selected",
             "Failure", "NO_STATUS"]
KEPT_STATUSES = ("Success", "Failed", "Not Attempted")
# statuses the program's filter must drop
JUNK_STATUSES = ("", "Bogus", "success", "Pending")

STAGES_PREFIX = "uf-stages-user-funnel"
OTP_PREFIX = "otp-summary-user-funnel"
DISC_PREFIX = "discovery-summary-user-funnel"
FACT_PREFIX = "user-funnel"

# Workload shapes. `spec` is the DateSpec string handed to RunReports: the
# layout's last day, standing in for the reference's default of yesterday
# so that the inputs depend on the seed alone, not on the date of the run.
SHAPES = {
    "report_daily_fleet": dict(
        entities=3, first=dt.date(2025, 6, 1), last=dt.date(2025, 6, 30),
        spec="30_06_2025", facts_per_entity_day=150),
}


def day_token(d):
    return d.strftime("%d_%m_%Y")


def spec_day(spec):
    """The day a `dd_MM_yyyy` Day spec selects."""
    return dt.datetime.strptime(spec, "%d_%m_%Y").date()


def entity_names(n):
    return [f"fiu-{i:03d}" for i in range(n)]


def _numeric_cell(rng, hi, empty_rate, junk_rate):
    r = rng.random()
    if r < empty_rate:
        return ""
    if r < empty_rate + junk_rate:
        return rng.choice(("n/a", "-", "NULL", "12a"))
    v = rng.randint(0, hi)
    if rng.random() < 0.5:
        # dyadic fractions, exact in binary so every summation order agrees;
        # any two of them add up to a whole unit or more, so truncating
        # before or after the sum gives different totals
        return f"{v}.{rng.choice((5, 75))}"
    return str(v)


def _day_rows(rng, entities, day, facts):
    """Cells of one day's four files, as lists of string rows (no header).
    Each entity has two rows in each summary file, so that truncating each
    value before the sum (stages) and after it (OTP, discovery) differ."""
    row_date = day.strftime("%d-%m-%Y")
    twice = [e for e in entities for _ in range(2)]
    stages = [[e, row_date] + [_numeric_cell(rng, 400, 0.03, 0.02)
                               for _ in STAGE_COLS] for e in twice]
    otp = [[e] + [_numeric_cell(rng, 120, 0.03, 0.02) for _ in OTP_COLS]
           for e in twice]
    disc = [[e] + [_numeric_cell(rng, 90, 0.10, 0.02) for _ in DISC_COLS]
            for e in twice]
    fact = []
    for e in entities:
        for _ in range(facts):
            r = rng.random()
            if r < 0.60:
                s = "Success"
            elif r < 0.75:
                s = "Failed"
            elif r < 0.90:
                s = "Not Attempted"
            else:
                s = rng.choice(JUNK_STATUSES)
            fact.append([e, s])
    return {STAGES_PREFIX: (["Entity_ID", "Date"] + STAGE_COLS, stages),
            OTP_PREFIX: (["entity_id"] + OTP_COLS, otp),
            DISC_PREFIX: (["entity_id"] + DISC_COLS, disc),
            FACT_PREFIX: (["entity_id", "fetch_status"], fact)}


def layout_days(shape):
    n = (shape["last"] - shape["first"]).days + 1
    return [shape["first"] + dt.timedelta(i) for i in range(n)]


def iter_layout(shape, seed):
    """Yield (day, {prefix: (header, rows)}) for every day of the layout."""
    entities = entity_names(shape["entities"])
    for day in layout_days(shape):
        # one stream per day, so any day can be regenerated on its own
        rng = random.Random(f"{seed}:{day.isoformat()}")
        yield day, _day_rows(rng, entities, day, shape["facts_per_entity_day"])


def _csv_bytes(header, rows):
    return ("\n".join(",".join(r) for r in [header] + rows) + "\n").encode()


def generate(root, shape, seed):
    """Write the layout under `root/layout`; return its manifest."""
    base = os.path.join(root, "layout")
    files = rows = size = 0
    selected = spec_day(shape["spec"])
    # bytes of the files the spec covers: the base of read amplification
    covered_bytes = 0
    for day, srcs in iter_layout(shape, seed):
        tok = day_token(day)
        os.makedirs(os.path.join(base, tok), exist_ok=True)
        for prefix, (header, body) in srcs.items():
            data = _csv_bytes(header, body)
            with open(os.path.join(base, tok, f"{prefix}-{tok}.csv"), "wb") as f:
                f.write(data)
            files += 1
            rows += len(body)
            size += len(data)
            if day == selected:
                covered_bytes += len(data)
    entities = entity_names(shape["entities"])
    recipients = {"to": {e: [f"ops+{e}@example.com"] for e in entities},
                  "cc": {"default": ["funnel-cc@example.com"]}}
    with open(os.path.join(base, "recipients.json"), "w") as f:
        json.dump(recipients, f, indent=1, sort_keys=True)
    return {"base": base, "recipients": os.path.join(base, "recipients.json"),
            "spec": shape["spec"], "entities": entities,
            "days": len(layout_days(shape)),
            "files": files, "rows": rows, "bytes": size,
            "covered_bytes": covered_bytes}


# ---- expected values ------------------------------------------------------

def _num(cell):
    """Spark's non-ANSI CAST(string AS DOUBLE) on the cells this generator writes."""
    try:
        return float(cell) if cell else None
    except ValueError:
        return None


def _bround1(x):
    # Spark's BRound on a double rounds the decimal form of the value
    # (Double.toString), half-to-even; repr gives the same digits here
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.1"), rounding=decimal.ROUND_HALF_EVEN))


def _pct(value, total):
    return _bround1(float(value) / float(total) * 100) if total > 0 else 0.0


def _trunc(x):
    return int(x)  # toward zero, like CAST(double AS BIGINT)


def _wide(stage_sum, otp_sum, disc_sum, fi):
    st = lambda c: stage_sum[c]
    otp = lambda c: _trunc(otp_sum[c]) if otp_sum[c] is not None else 0
    disc = lambda c: _trunc(disc_sum[c]) if disc_sum[c] is not None else 0
    w = {
        "total_users": sum(st(c) for c in STAGE_COLS[:7]),
        "d1": st("AA_client_Initialization"),
        "d2": st("OTP_Based_Sign_in_Sign_up"),
        "view_drop": st("View_Consent_Details"),
        "auth_drop": st("OTP_Based_Sign_in_Sign_up") + st("View_Consent_Details"),
        "d3": sum(disc(c) for c in DISC_COLS),
        "d4": st("Linking"),
        "rej": st("Rejected_Consent_Requests"),
        "appr": st("Approved_Consent_Requests"),
        "fip_rej": st("FIP_Rejected_Consent_Artefacts"),
        "fip_ok": st("FIP_Accepted_Consent_Artefacts"),
        "fetch_ok": st("Data_Fetch_Success"),
        "not_attempted": st("Data_Fetch_Not_Attempted"),
        "fi_req_ok": fi.get("Success", 0) + fi.get("Failed", 0),
        "otp_wrong": otp("Incorrect_OTP_Entered"),
        "otp_miss": otp("OTP_Not_Entered"),
        "no_rec": disc("Account_not_Found"),
        "fip_fail": disc("NO_STATUS"),
        "some_fail": disc("Failure"),
        "found_not_linked": disc("Account_Discovered") + disc("FIP_Not_Selected"),
    }
    t = w["total_users"]
    w["n_consent"] = t
    w["n_after_init"] = t - w["d1"]
    w["n_after_auth"] = w["n_after_init"] - w["auth_drop"]
    w["n_after_disc"] = w["n_after_auth"] - w["d3"]
    w["n_after_link"] = w["n_after_disc"] - w["d4"]
    w["fi_fetch_drop"] = w["fi_req_ok"] - w["fetch_ok"]
    w["otp_ok_drop"] = w["d2"] - (w["otp_wrong"] + w["otp_miss"]) + w["view_drop"]
    w["0"] = 0
    return w


# (success expression, drop expression) per data row, None = blank cell
ROW_CELLS = [
    ("n_consent", "0"), ("n_after_init", "d1"), ("n_after_auth", "auth_drop"),
    (None, "otp_wrong"), (None, "otp_miss"), (None, "otp_ok_drop"),
    ("n_after_disc", "d3"), (None, "no_rec"), (None, "fip_fail"),
    (None, "some_fail"), (None, "found_not_linked"), ("n_after_link", "d4"),
    ("appr", "rej"), (None, "rej"), (None, None), ("fip_ok", "fip_rej"),
    ("fi_req_ok", "not_attempted"), ("fetch_ok", "fi_fetch_drop"),
]


def _rows(w):
    t = w["total_users"]
    out = []
    for i, (s, d) in enumerate(ROW_CELLS):
        out.append({
            "row_idx": i,
            "success_count": None if s is None else w[s],
            "success_pct": None if s is None else _pct(w[s], t),
            "drop_count": None if d is None else w[d],
            "drop_pct": None if d is None else _pct(w[d], t),
            "is_subcause": s is None,
        })
    return out


def expected_tables(shape, seed):
    """entity -> the 18 expected rows (dicts) of its funnel table."""
    selected = spec_day(shape["spec"])
    ents = entity_names(shape["entities"])
    zero = lambda cols, v: {e: {c: v for c in cols} for e in ents}
    stage, otp, disc = zero(STAGE_COLS, 0), zero(OTP_COLS, None), zero(DISC_COLS, None)
    fi = {e: {} for e in ents}

    def add(acc, e, c, x):
        if x is not None:
            acc[e][c] = x if acc[e][c] is None else acc[e][c] + x

    for day, srcs in iter_layout(shape, seed):
        if day != selected:
            continue
        for r in srcs[STAGES_PREFIX][1]:
            for c, cell in zip(STAGE_COLS, r[2:]):
                x = _num(cell)
                if x is not None:
                    stage[r[0]][c] += _trunc(x)
        for r in srcs[OTP_PREFIX][1]:
            for c, cell in zip(OTP_COLS, r[1:]):
                add(otp, r[0], c, _num(cell))
        for r in srcs[DISC_PREFIX][1]:
            for c, cell in zip(DISC_COLS, r[1:]):
                add(disc, r[0], c, _num(cell))
        for e, s in srcs[FACT_PREFIX][1]:
            if s in KEPT_STATUSES:
                fi[e][s] = fi[e].get(s, 0) + 1
    return {e: _rows(_wide(stage[e], otp[e], disc[e], fi[e])) for e in ents}
