"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments (no wall clock, no
global random state), so one ``--seed`` always yields the same inputs.
Ground truth is returned beside the inputs and never reaches the program:
the workloads hand the program only the raw, unlabeled frames.
"""

from __future__ import annotations

import itertools
import random

import pandas as pd

# ---------------------------------------------------------------------------
# Physician records (cms- and license-shaped drops)
# ---------------------------------------------------------------------------

_FIRST = [
    "JAMES", "MARY", "JOHN", "PATRICIA", "ROBERT", "JENNIFER", "MICHAEL",
    "LINDA", "WILLIAM", "ELIZABETH", "DAVID", "BARBARA", "RICHARD", "SUSAN",
    "JOSEPH", "JESSICA", "THOMAS", "SARAH", "CHARLES", "KAREN", "DANIEL",
    "NANCY", "MATTHEW", "LISA", "ANTHONY", "MARGARET", "MARK", "SANDRA",
    "STEVEN", "ASHLEY", "PAUL", "EMILY", "ANDREW", "DONNA", "JOSHUA",
    "MICHELLE", "KEVIN", "CAROL", "BRIAN", "AMANDA", "GEORGE", "MELISSA",
    "EDWARD", "DEBORAH", "RONALD", "STEPHANIE", "TIMOTHY", "REBECCA",
    "JASON", "LAURA", "JEFFREY", "HELEN", "RYAN", "SHARON", "GARY", "ANNA",
    "NICHOLAS", "RUTH", "ERIC", "KATHLEEN", "PRIYA", "WEI", "AHMED", "SOFIA",
]

# surname = root + ending: 60 x 9 distinct surnames, so last-name blocks
# stay a few records wide instead of one giant "SMITH" block
_SURNAME_ROOTS = [
    "AB", "ADLER", "ALCOTT", "BALD", "BARR", "BECK", "BRAD", "BRENN", "CALD",
    "CARL", "CHAND", "CLIFF", "CORD", "DALT", "DEMP", "DORN", "EDGE", "ELL",
    "FAIR", "FEN", "FORD", "GAR", "GOLD", "GRANT", "HALL", "HART", "HOLM",
    "IVER", "JARV", "KELL", "KEND", "KIRK", "LAMB", "LIND", "LOCK", "MAR",
    "MORE", "NASH", "NORD", "OAK", "ORT", "PARK", "PEND", "QUINN", "RAM",
    "RED", "ROTH", "SAND", "SHEL", "STAN", "THORN", "TOLL", "UPH", "VAN",
    "WALD", "WEST", "WIN", "YORK", "ZELL", "ZIM",
]
_SURNAME_ENDS = ["", "SON", "MAN", "ER", "TON", "LEY", "WICK", "BERG", "ING"]

# canonical specialty -> spellings seen across sources
_SPECIALTIES = {
    "CARDIOLOGY": ["CARDIOLOGY", "Cardiovascular Disease", "CV"],
    "INTERNAL MEDICINE": ["INTERNAL MEDICINE", "Internal Med", "IM"],
    "FAMILY MEDICINE": ["FAMILY MEDICINE", "Family Practice", "FP"],
    "PEDIATRICS": ["PEDIATRICS", "Pediatric Medicine", "Peds"],
    "ORTHOPEDIC SURGERY": ["ORTHOPEDIC SURGERY", "Orthopaedic Surgery", "Ortho"],
    "GASTROENTEROLOGY": ["GASTROENTEROLOGY", "GI", "Gastro"],
    "EMERGENCY MEDICINE": ["EMERGENCY MEDICINE", "Emergency Med", "ER"],
    "NEUROLOGY": ["NEUROLOGY", "Neurology"],
    "DERMATOLOGY": ["DERMATOLOGY", "Dermatology"],
}

# (city, state, zip, lat, lon)
_CITIES = [
    ("SPRINGFIELD", "IL", "62701", 39.80, -89.65),
    ("CHICAGO", "IL", "60601", 41.88, -87.63),
    ("PEORIA", "IL", "61602", 40.69, -89.59),
    ("DAYTON", "OH", "45402", 39.75, -84.19),
    ("COLUMBUS", "OH", "43215", 39.96, -83.00),
    ("CLEVELAND", "OH", "44114", 41.50, -81.69),
    ("AUSTIN", "TX", "78701", 30.27, -97.74),
    ("DALLAS", "TX", "75201", 32.78, -96.80),
    ("HOUSTON", "TX", "77002", 29.76, -95.37),
    ("DENVER", "CO", "80202", 39.74, -104.99),
    ("BOULDER", "CO", "80302", 40.01, -105.27),
    ("SEATTLE", "WA", "98101", 47.61, -122.33),
    ("SPOKANE", "WA", "99201", 47.66, -117.43),
    ("ATLANTA", "GA", "30303", 33.75, -84.39),
    ("SAVANNAH", "GA", "31401", 32.08, -81.09),
    ("BOSTON", "MA", "02108", 42.36, -71.06),
]
_FACILITY_KINDS = ["GENERAL", "MEMORIAL", "REGIONAL", "UNIVERSITY", "COMMUNITY"]

CMS_COLUMNS = ["rid", "npi", "provider_name", "provider_specialty",
               "facility_name", "city", "state", "zip", "lat", "lon"]
LICENSE_COLUMNS = ["rid", "license_number", "physician_name", "specialty",
                   "address_city", "address_state", "address_zip", "lat", "lon"]


def _rng(seed: int, *parts: int) -> random.Random:
    """Independent stream per (seed, parts): an entity's rows never depend
    on how many entities come before it."""
    x = seed & 0xFFFFFFFF
    for p in parts:
        x = (x * 1_000_003 + p + 7) & 0xFFFFFFFFFFFF
    return random.Random(x)


# the physician population (names, middle initials, specialties, home
# cities, facilities, spelling variants, typos) is drawn from this fixed
# stream, not from the seed: which records match, and so how many pruning
# iterations a pass needs, must not change with the seed (drawn from the
# seed, the id-conflict loop takes 1 to 3 iterations, ~15% of a pass)
_POPULATION = 20240517


def _identity(seed: int, k: int, name_slot: int) -> dict:
    """Name, specialty, home city and NPI of true physician ``k``;
    ``name_slot`` picks the (first name, surname root) pair.  Only the NPI
    comes from ``seed``."""
    r = _rng(_POPULATION, 1, k)
    first, root = divmod(name_slot, len(_SURNAME_ROOTS))
    n = _rng(seed, 1, k)
    return dict(
        first=_FIRST[first],
        middle=r.choice("ABCDEFGHJKLMNPRSTW") if r.random() < 0.7 else "",
        last=_SURNAME_ROOTS[root] + r.choice(_SURNAME_ENDS),
        specialty=r.choice(sorted(_SPECIALTIES)),
        city=r.randrange(len(_CITIES)),
        # k in the low digits keeps NPIs distinct across physicians
        npi=f"{n.randrange(1, 10)}{n.randrange(10**4):04d}{k:05d}",
    )


def _typo(r: random.Random, s: str) -> str:
    i = r.randrange(1, len(s))
    return s[:i] + chr((ord(s[i]) - 65 + 1) % 26 + 65) + s[i + 1:]


def _npi_typo(r: random.Random, npi: str) -> str:
    """A different valid-format NPI: one digit changed."""
    i = r.randrange(10)
    d = str((int(npi[i]) + r.randrange(1, 10)) % 10)
    return npi[:i] + d + npi[i + 1:]


def generate_physicians(n_physicians: int, seed: int):
    """Two raw source drops of the same physician population plus truth.

    Returns ``(cms_pdf, license_pdf, truth_pdf)``.  ``truth_pdf`` maps
    ``(source, rid)`` to ``true_id`` and ``true_npi``.

    Noise model: cms names as ``LAST, FIRST M`` with 4% NPI conflicts
    (one-digit typo -> a different valid NPI), 6% missing and 4% malformed
    NPIs; license names as free text (``First M. Last``, ``Dr. First Last
    MD``) with 10% surname typos, 50% specialty spelling variants and no NPI
    column at all.  Every 25th physician is a namesake of the previous one
    (same name and city, different NPI): the id-conflict case the pruner
    must split.  The noise and the population are the same for every seed
    (see ``_POPULATION``), so every seed poses the same amount of work; the
    seed picks the NPIs, the record ids and the row order of both drops.
    """
    # no two physicians share a first name and surname root (planted
    # namesakes aside)
    slots = _rng(_POPULATION, 4).sample(range(len(_FIRST) * len(_SURNAME_ROOTS)),
                                        n_physicians)
    cms, lic, truth = [], [], []
    j = 0  # running cms record index
    for k in range(n_physicians):
        ident = _identity(seed, k, slots[k])
        r = _rng(_POPULATION, 2, k)
        n = _rng(seed, 2, k)
        if k % 25 == 24:
            prev = _identity(seed, k - 1, slots[k - 1])
            ident.update(first=prev["first"], middle=prev["middle"],
                         last=prev["last"], city=prev["city"])
        tid = f"PHY{k:06d}"
        city, state, zipc, lat, lon = _CITIES[ident["city"]]
        n_cms = 0 if k % 10 == 0 else (2 if k % 7 == 3 else 1)
        for c in range(n_cms):
            j += 1
            if j % 25 == 0:
                npi = _npi_typo(n, ident["npi"])
            elif j % 50 in (1, 2, 3):
                npi = ""
            elif j % 25 == 7:
                npi = ident["npi"][:9] if j % 2 else "N/A"
            else:
                npi = ident["npi"]
            name = f"{ident['last']}, {ident['first']}" + (
                f" {ident['middle']}" if ident["middle"] and c == 0 else "")
            rid = f"C{seed}-{k}-{c}"
            cms.append(dict(
                rid=rid, npi=npi, provider_name=name,
                provider_specialty=ident["specialty"],
                facility_name=f"{city} {r.choice(_FACILITY_KINDS)} HOSPITAL",
                city=city, state=state, zip=zipc, lat=lat, lon=lon,
            ))
            truth.append(dict(source="cms", rid=rid, true_id=tid, true_npi=ident["npi"]))
        if n_cms == 0 or k % 5 != 4:
            first = ident["first"].capitalize()
            last = ident["last"].capitalize()
            if k % 10 == 3:
                last = _typo(r, last.upper()).capitalize()
            mid = f" {ident['middle']}." if ident["middle"] and k % 2 else ""
            name = f"Dr. {first} {last} MD" if k % 10 in (1, 5, 8) else f"{first}{mid} {last}"
            spec = (r.choice(_SPECIALTIES[ident["specialty"]])
                    if k % 2 else ident["specialty"].title())
            rid = f"L{seed}-{k}"
            lic.append(dict(
                rid=rid, license_number=f"{state}{n.randrange(10**6):06d}",
                physician_name=name, specialty=spec, address_city=city.title(),
                address_state=state, address_zip=zipc, lat=lat, lon=lon,
            ))
            truth.append(dict(source="license", rid=rid, true_id=tid,
                              true_npi=ident["npi"]))
    def shuffled(rows, columns, part):
        return (pd.DataFrame(rows, columns=columns)
                .sample(frac=1.0, random_state=_rng(seed, 5, part).randrange(2**32))
                .reset_index(drop=True))

    return (shuffled(cms, CMS_COLUMNS, 0), shuffled(lic, LICENSE_COLUMNS, 1),
            pd.DataFrame(truth))


def generate_referrals(cms_pdf: pd.DataFrame, n_events: int, seed: int) -> pd.DataFrame:
    """Referral events between NPIs as billed in the cms drop.

    Receivers are drawn with a skewed (1/rank) weight so PageRank has a few
    hubs; 5% of events name an NPI that appears in no drop (unresolvable,
    dropped by the graph join)."""
    r = _rng(seed, 3)
    npis = sorted({n for n in cms_pdf["npi"] if len(n) == 10 and n.isdigit()})
    cum = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(npis))))
    hubs = list(npis)
    r.shuffle(hubs)
    rows = []
    for i in range(n_events):
        a = r.choice(npis)
        b = r.choices(hubs, cum_weights=cum)[0]
        if r.random() < 0.05:
            b = f"9{r.randrange(10**9):09d}"
        day = r.randrange(365)
        rows.append(dict(referring_npi=a, receiving_npi=b,
                         referral_date=f"2026-{day // 31 + 1:02d}-{day % 28 + 1:02d}"))
    return pd.DataFrame(rows, columns=["referring_npi", "receiving_npi", "referral_date"])


# ---------------------------------------------------------------------------
# Code-file stream
# ---------------------------------------------------------------------------

def split_stream(files_pdf: pd.DataFrame, base_share: float, batch_files: int,
                 seed: int) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Shuffle a code corpus (seeded) and cut it into a base and waves.

    The base is the first ``base_share`` of the rows; the rest is cut into
    waves of ``batch_files`` rows (the last wave may be shorter).  Copies of
    one entity land on both sides, so waves match against the base."""
    order = files_pdf.sample(frac=1.0, random_state=seed % (2**32)).reset_index(drop=True)
    n_base = int(len(order) * base_share)
    base = order.iloc[:n_base]
    rest = order.iloc[n_base:]
    waves = [rest.iloc[i:i + batch_files] for i in range(0, len(rest), batch_files)]
    return base, waves
