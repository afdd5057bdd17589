"""Seeded dirty-docket generator with expected answers.

``DocketGen(seed)`` emits batches of raw docket records in the shape
the ingest CLI reads (a JSON array of nine string fields) and keeps a
model of the warehouse those batches must produce, so every output of
the pipeline can be checked against an answer computed independently
of Spark:

- per batch: the ingest summary (read / inserted / updated / failed /
  warnings_no_parties) and the planted count of every error code;
- per case: the last good version (title, status, date, normalized
  court and judge), the accumulated (party, role) set, and the text its
  embedding was built from.

Invalid records carry exactly one defect each, so the first-failure
validation order yields a known code: UNKNOWN (null case_number or null
status), MISSING_CASE_NUMBER, BAD_DATE, FK_COURT, VALIDATION_ERROR
(empty case_type) and STATUS_UNMAPPED.  Every invalid record is unique
(its title carries a serial), so per-code counts in the errors table
equal the planted counts.

Run standalone to write batches and their expected counts:

    python3 perfbench/gen.py --seed 7 --out /tmp/dockets --sizes 3000,600,600
"""

from __future__ import annotations

import argparse
import json
import random
import re
from dataclasses import dataclass, field
from pathlib import Path

CHUNK_SIZE = 1200
CHUNK_STRIDE = 1000  # 1200-char windows overlapping by 200
INVALID = 0.18  # share of each batch carrying one defect
INTRA_DUP = 0.03  # share repeating a key earlier in the same batch

ERROR_KINDS = (
    ("UNKNOWN", "null_case_number"),
    ("UNKNOWN", "null_status"),
    ("MISSING_CASE_NUMBER", "blank_case_number"),
    ("BAD_DATE", "bad_date"),
    ("FK_COURT", "no_court"),
    ("VALIDATION_ERROR", "empty_case_type"),
    ("STATUS_UNMAPPED", "bad_status"),
)
ERROR_CODES = tuple(sorted({code for code, _ in ERROR_KINDS}))

COURTS = (
    ("S.D.N.Y.", "S D N Y", "SDNY", "s.d.n.y."),
    ("N.D. Cal.", "N D Cal", "NDCAL", "n.d. cal"),
    ("E.D. Va.", "ED Va", "EDVA"),
    ("D. N.J.", "D NJ", "DNJ"),
    ("N.D. Ill.", "ND Ill", "NDILL"),
    ("C.D. Cal.", "CD Cal", "CDCAL"),
    ("S.D. Tex.", "SD Tex", "SDTEX"),
    ("D. Mass.", "D Mass", "DMASS"),
    ("W.D. Wash.", "WD Wash", "WDWASH"),
    ("D. Del.", "D Del", "DDEL"),
    ("E.D. Pa.", "ED Pa", "EDPA"),
    ("M.D. Fla.", "MD Fla", "MDFLA"),
)
FIRST = (
    "maria", "sarah", "james", "robert", "linda", "david", "susan", "thomas",
    "karen", "daniel", "nancy", "paul", "laura", "mark", "helen", "peter",
    "ruth", "steven", "anna", "george",
)
LAST = (
    "rodriguez", "chen", "okafor", "novak", "haddad", "larsen", "moreau",
    "tanaka", "silva", "kowalski", "brennan", "abara", "lindqvist", "patel",
    "romero", "fischer", "ivanova", "quinn", "mendes", "adeyemi",
)
JUDGE_TITLES = ("Hon. ", "Judge ", "Justice ", "", "HON. ")
CASE_TYPES = ("Civil", "civil", "Criminal", "Employment", "Bankruptcy", None)
STATUSES = ("Active", "ACTIVE", "active", "Closed", "closed", "Pending", "Dismissed")
MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)
ORGS = ("Corp", "LLC", "Inc", "Holdings", "Group", "Partners", "Bank", "Trust")
WORDS = tuple(
    "motion complaint filed order court defendant plaintiff hearing "
    "discovery deposition exhibit summary judgment appeal remand breach "
    "contract damages injunction settlement stipulation counsel brief "
    "reply opposition transcript ruling sanctions arbitration jurisdiction "
    "venue amended petition subpoena witness evidence testimony verdict "
    "jury trial docket clerk notice compliance patent trademark copyright "
    "antitrust securities fraud negligence liability employment wage "
    "discrimination retaliation warrant indictment plea sentencing "
    "probation custody lease tenant property insurance coverage claim "
    "bankruptcy creditor debtor trustee estate merger dividend audit".split()
)
PARTY_ROLES = ("plaintiff", "defendant", "plaintiffs", "defendants",
               "third_party", "intervenor", "other")

_WS = re.compile(r"\s+")
_JUDGE_TITLE = re.compile(r"^(hon\.?|judge|justice)\s+", re.I)
_ROLE = re.compile(
    r"\((plaintiff|defendant|plaintiffs|defendants|third_party|intervenor|other)\)",
    re.I,
)
_PAREN = re.compile(r"\([^)]+\)")


def norm_court(raw: str) -> str:
    return re.sub(r"[.\s]+", "", raw).upper()


def norm_judge(raw: str) -> str:
    return _WS.sub(" ", _JUDGE_TITLE.sub("", raw)).strip(" ").lower()


def norm_party(raw: str) -> str:
    return _WS.sub(" ", raw).strip(" ").lower()


def parse_parties(s: str | None) -> list[tuple[str, str]]:
    """(display name, role) pairs under the ingest pipeline's party
    grammar: sections split on ';' or '/', the first role parenthetical
    names the role (one trailing 's' dropped), names split on ','."""
    out: list[tuple[str, str]] = []
    for section in re.split(r"[;/]", s or ""):
        section = section.strip(" ")
        if not section:
            continue
        m = _ROLE.search(section)
        if m:
            role = re.sub(r"s$", "", m.group(1).lower())
            section = _PAREN.sub("", section).strip(" ")
        else:
            role = "other"
        out.extend((n.strip(" "), role) for n in section.split(",") if n.strip(" "))
    return out


def first_chunk(text: str) -> str:
    """Chunk 0 of the 1200/200 chunker ('' when the text is empty)."""
    return (text or "")[:CHUNK_SIZE].strip(" ")


def n_chunks(text: str | None) -> int:
    """Chunks the backfill stores for one case, the empty-text
    sentinel included."""
    if not text:
        return 1
    raw = 1 + max(0, -(-(len(text) - CHUNK_SIZE) // CHUNK_STRIDE))
    kept = sum(
        1 for i in range(raw) if text[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_SIZE].strip(" ")
    )
    return kept or 1


@dataclass
class Case:
    """Last good version of one case, as the warehouse must hold it."""

    title: str
    filed_date: str  # yyyy-MM-dd
    status: str
    court: str  # normalized
    judge: str | None  # normalized; None = no judge
    text: str
    parties: set = field(default_factory=set)  # {(normalized name, role)}
    embedded_text: str | None = None  # text the stored chunks came from


@dataclass
class Batch:
    records: list[dict]
    expected: dict  # ingest summary + per-code counts
    new_keys: list[str]  # good keys first inserted by this batch
    input_bytes: int = 0

    def write(self, path: Path) -> Path:
        """Write the JSON array and its expected counts beside it."""
        data = json.dumps(self.records, separators=(",", ":"))
        path.write_text(data)
        self.input_bytes = len(data.encode())
        path.with_suffix(".expected.json").write_text(json.dumps(self.expected))
        return path


class DocketGen:
    """Deterministic stream of docket batches plus the model of the
    warehouse they build.  The same seed and the same sequence of
    ``batch`` calls give the same records."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.cases: dict[str, Case] = {}
        self.serial = 0
        self.bad_serial = 0
        self.totals = {"read": 0, "failed": 0, "codes": dict.fromkeys(ERROR_CODES, 0)}
        rng = self.rng
        # judge pool: display variants share one normalized name
        names = {f"{rng.choice(FIRST)} {rng.choice(LAST)}" for _ in range(200)}
        self.judges = sorted(names)[:48]
        # Zipf-ish popularity: judge i drawn with weight 1/(i+1)
        self.judge_weights = [1.0 / (i + 1) for i in range(len(self.judges))]
        self.party_pool = [
            f"{rng.choice(LAST).title()} {rng.choice(ORGS)}" for _ in range(600)
        ] + [f"{rng.choice(FIRST).title()} {rng.choice(LAST).title()}" for _ in range(900)]

    # -- field makers ---------------------------------------------------
    def _key(self) -> str:
        self.serial += 1
        kind = self.rng.choice(("cv", "cv", "cr", "bk"))
        return f"{self.serial % 9 + 1}:{15 + self.serial % 10}-{kind}-{self.serial:06d}"

    def _date(self) -> tuple[str, str]:
        rng = self.rng
        y, m, d = rng.randint(2015, 2024), rng.randint(1, 12), rng.randint(1, 28)
        fmt = rng.randrange(6)
        raw = (
            f"{y}-{m:02d}-{d:02d}", f"{y}-{m}-{d}", f"{m}-{d}-{y}", f"{m}/{d}/{y}",
            f"{MONTHS[m - 1][:3]} {d}, {y}", f"{MONTHS[m - 1]} {d}, {y}",
        )[fmt]
        return raw, f"{y}-{m:02d}-{d:02d}"

    def _judge(self) -> str | None:
        rng = self.rng
        if rng.random() < 0.04:
            return rng.choice((None, ""))
        name = rng.choices(self.judges, self.judge_weights)[0]
        if rng.random() < 0.3:
            name = name.title()
        if rng.random() < 0.1:
            name = name.replace(" ", "  ")
        return rng.choice(JUDGE_TITLES) + name

    def _parties(self) -> str | None:
        rng = self.rng
        if rng.random() < 0.05:
            return rng.choice((None, "", " ; "))
        sections = []
        for _ in range(rng.choice((1, 2, 2, 3))):
            names = [rng.choice(self.party_pool) for _ in range(rng.choice((1, 1, 2)))]
            if rng.random() < 0.15:
                names = [n.upper() for n in names]
            if rng.random() < 0.1:
                names = [n.replace(" ", "  ") for n in names]
            sec = ", ".join(names)
            if rng.random() < 0.9:
                sec += f" ({rng.choice(PARTY_ROLES)})"
            sections.append(sec)
        return rng.choice(("; ", " / ", ";")).join(sections)

    def _text(self, tag: str) -> str | None:
        rng = self.rng
        r = rng.random()
        if r < 0.03:
            return None
        if r < 0.06:
            return ""
        if r < 0.46:
            n = rng.randint(3, 50)
        elif r < 0.78:
            n = rng.randint(50, 170)
        elif r < 0.97:
            n = rng.randint(170, 700)
        else:
            n = rng.randint(700, 1600)
        # leading tag makes every case's first chunk distinct, so a
        # self-retrieval probe has exactly one best match
        return f"docket {tag} " + " ".join(rng.choices(WORDS, k=n))

    def _good(self, key: str) -> tuple[dict, str]:
        rng = self.rng
        raw_date, iso = self._date()
        rec = {
            "case_number": key,
            "court": rng.choice(rng.choice(COURTS)),
            "title": f"{rng.choice(self.party_pool)} v. {rng.choice(self.party_pool)}",
            "filed_date": raw_date,
            "parties": self._parties(),
            "case_type": rng.choice(CASE_TYPES),
            "judge": self._judge(),
            "docket_text": self._text(f"t{rng.getrandbits(40):x}"),
            "status": rng.choice(STATUSES),
        }
        return rec, iso

    def _bad(self, key: str, kind: str) -> dict:
        rec, _ = self._good(key)
        self.bad_serial += 1
        rec["title"] = f"quarantine sample {self.bad_serial}"
        if kind == "null_case_number":
            rec["case_number"] = None
        elif kind == "blank_case_number":
            rec["case_number"] = self.rng.choice(("", "   "))
        elif kind == "bad_date":
            rec["filed_date"] = self.rng.choice(
                ("13-40-2024", "2024-13-03", "not a date", "40/40/4040", "", None)
            )
        elif kind == "no_court":
            rec["court"] = self.rng.choice((None, ""))
        elif kind == "empty_case_type":
            rec["case_type"] = ""
        elif kind == "null_status":
            rec["status"] = None
        elif kind == "bad_status":
            rec["status"] = self.rng.choice(("archived", " active", "", "open"))
        return rec

    # -- batches --------------------------------------------------------
    def batch(self, n: int, overlap: float = 0.2) -> Batch:
        """``n`` records: ``overlap`` of them rewrite keys from earlier
        batches, INTRA_DUP repeat a key earlier in this batch, and INVALID
        carry one defect each (spread over every kind)."""
        rng = self.rng
        prior = list(self.cases)
        n_bad = round(n * INVALID)
        kinds = [ERROR_KINDS[i % len(ERROR_KINDS)][1] for i in range(n_bad)]
        slots = ["bad"] * n_bad + ["good"] * (n - n_bad)
        rng.shuffle(kinds)
        rng.shuffle(slots)
        records: list[dict] = []
        codes = dict.fromkeys(ERROR_CODES, 0)
        code_of = dict((k, c) for c, k in ERROR_KINDS)
        final: dict[str, tuple[dict, str]] = {}  # key -> last good row
        has_parties: dict[str, bool] = {}
        parties: dict[str, set] = {}
        batch_keys: list[str] = []
        for slot in slots:
            r = rng.random()
            if prior and r < overlap:
                key = rng.choice(prior)
            elif batch_keys and r < overlap + INTRA_DUP:
                key = rng.choice(batch_keys)
            else:
                key = self._key()
            if slot == "bad":
                kind = kinds.pop()
                records.append(self._bad(key, kind))
                codes[code_of[kind]] += 1
                continue
            rec, iso = self._good(key)
            records.append(rec)
            batch_keys.append(key)
            final[key] = (rec, iso)
            pairs = parse_parties(rec["parties"])
            has_parties[key] = has_parties.get(key, False) or bool(pairs)
            parties.setdefault(key, set()).update((norm_party(n), role) for n, role in pairs)
        inserted = [k for k in final if k not in self.cases]
        n_good = n - n_bad
        for key, (rec, iso) in final.items():
            judge = norm_judge(rec["judge"]) if rec["judge"] else None
            prev = self.cases.get(key)
            case = Case(
                title=rec["title"] or "",
                filed_date=iso,
                status=rec["status"].lower(),
                court=norm_court(rec["court"]),
                judge=judge or None,
                text=rec["docket_text"] or "",
                parties=(prev.parties if prev else set()) | parties[key],
                embedded_text=prev.embedded_text if prev else None,
            )
            self.cases[key] = case
        self.totals["read"] += n
        self.totals["failed"] += n_bad
        for c, v in codes.items():
            self.totals["codes"][c] += v
        expected = {
            "read": n,
            "inserted": len(inserted),
            "updated": n_good - len(inserted),
            "failed": n_bad,
            "warnings_no_parties": sum(1 for v in has_parties.values() if not v),
            "codes": codes,
        }
        return Batch(records=records, expected=expected, new_keys=inserted)

    def mark_backfilled(self) -> int:
        """Model a `rag backfill`: cases without stored chunks get them
        from their current text (later rewrites keep the old chunks).
        Returns the number of chunk rows the backfill adds."""
        added = 0
        for case in self.cases.values():
            if case.embedded_text is None:
                case.embedded_text = case.text
                added += n_chunks(case.text)
        return added

    def unknown_key(self) -> str:
        """A well-formed case number no batch ever uses."""
        return f"0:00-zz-{self.rng.getrandbits(30):09d}"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--sizes", default="3000,600", help="records per batch")
    args = p.parse_args()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    gen = DocketGen(args.seed)
    for i, n in enumerate(int(s) for s in args.sizes.split(",")):
        b = gen.batch(n, overlap=0.0 if i == 0 else 0.2)
        b.write(out / f"batch_{i:02d}.json")
        print(json.dumps({"batch": i, **b.expected}))


if __name__ == "__main__":
    main()
