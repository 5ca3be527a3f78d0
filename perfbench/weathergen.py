"""Seeded synthetic PSGC feed, geocode answers and ground truth for the
weather_ticks workload.

The feed has city and municipality rows over 82 provinces. Each row is
built for one resolution case, so every branch of the program's
province matcher (GeocodeMatcher.matchProvince) and every name variant
of its fallback chain (Names.nameVariants) is exercised, plus rows that
never resolve. The generator records, per change epoch, how many
geocode requests a correct refresh sends and how many of the geocoded
rows resolve, by running its own port of the matcher over the answers
it wrote and asserting that each row resolves exactly as its case
intends.
"""
import random

PREFIXES = ["City of ", "Municipality of ", "Barangay ", "Town of "]
SYLLABLES = ["ba", "la", "san", "ta", "ma", "gu", "po", "ri", "lo", "ca", "mi",
             "na", "to", "si", "du", "ye", "ko", "ra", "pi", "bu", "an", "hi",
             "lu", "mo", "sa", "te", "go", "da", "li", "ne"]
DECOY_STATES = ["Outer Zone Xq", "Far Reach Qz"]
UNKNOWN_PROVINCE = "999900000"
ISLANDS = ["luzon", "visayas", "mindanao"]

# case -> (weight, resolves)
CASES = {
    "absent": (20, True),      # matcher branch 1: candidate without state
    "exact": (18, True),       # branch 3: state equals province (any case)
    "substring": (14, True),   # branch 4: province inside state
    "original": (10, True),    # variant 2: only the unnormalized name answers
    "suffix": (10, True),      # variant 3: only the " City"-stripped name answers
    "three": (5, True),        # all three variants, the last one answers
    "decoys": (9, False),      # answers whose states match nothing
    "nocands": (9, False),     # no answers at all
    "noprov": (5, False),      # province unknown: branch 6, never accepted
}


def normalize(name):
    for p in PREFIXES:
        if name.startswith(p):
            return name[len(p):].strip()
    return name


def name_variants(name):
    """Port of Names.nameVariants: normalized, original, ' City'-stripped."""
    out = []
    for v in [normalize(name), name] + ([name[:-5].strip()] if name.endswith(" City") else []):
        if v not in out:
            out.append(v)
    return out


def match_province(cands, province, queried):
    """Port of GeocodeMatcher.matchProvince (first match in order)."""
    q = queried.lower()
    for c in cands:
        st = c.get("state")
        if st is None:
            return c["lat"], c["lon"]
        if q == "isabela" and "basilan" in st.lower():
            return c["lat"], c["lon"]
        if province is not None:
            p = province.lower()
            if st.lower() == p or p in st.lower():
                return c["lat"], c["lon"]
            if q == "naga" and st in ("nan", "") and p == "camarines sur":
                return c["lat"], c["lon"]
    return None


def resolve(name, province, table):
    """(requests sent, resolved?) for one row under the fallback chain."""
    variants = name_variants(name)
    for i, v in enumerate(variants):
        if match_province(table.get(v, []), province, v) is not None:
            return i + 1, True
    return len(variants), False


class Generator:
    def __init__(self, seed, locations, provinces):
        self.rng = random.Random(seed)
        self.used = {"isabela", "naga"}
        self.provinces = []
        for i in range(provinces):
            name = "Camarines Sur" if i == 0 else self.word(3)
            region = 1 + i % 17
            self.provinces.append({
                "code": f"{region:02d}{i:02d}00000", "name": name,
                "regionCode": f"{region:02d}0000000",
                "islandGroupCode": ISLANDS[i % 3],
                "psgc10DigitCode": f"{region:02d}{i:02d}000000"})
        for d in DECOY_STATES:
            assert not any(p["name"].lower() in d.lower() for p in self.provinces)
        self.table = {}
        self.rows = []
        self.cases = []
        self.make_row("isabela", self.rng.choice(self.provinces[1:]), base="Isabela")
        self.make_row("naga", self.provinces[0], base="Naga")
        names, weights = zip(*[(k, w) for k, (w, _) in CASES.items()])
        while len(self.rows) < locations:
            case = self.rng.choices(names, weights)[0]
            prov = None if case == "noprov" else self.rng.choice(self.provinces)
            self.make_row(case, prov)

    def word(self, n, unique=True):
        while True:
            w = "".join(self.rng.choice(SYLLABLES) for _ in range(n)).capitalize()
            if not unique:
                return w
            if w.lower() not in self.used:
                self.used.add(w.lower())
                return w

    def cand(self, state):
        c = {"name": "x", "lat": round(self.rng.uniform(4.5, 21.0), 4),
             "lon": round(self.rng.uniform(116.0, 127.0), 4), "country": "PH"}
        if state is not None:
            c["state"] = state
        return c

    def answer(self, case, base, province):
        """The row's name and the geocode answers that realise its case."""
        prefix = self.rng.choice(PREFIXES)
        pname = province["name"] if province else None
        if case == "isabela":
            name, ans = "City of " + base, {base: [self.cand("Basilan")]}
        elif case == "naga":
            name, ans = "City of " + base, {base: [self.cand("nan")]}
        elif case == "absent":
            name, ans = prefix + base, {base: [self.cand(None)]}
        elif case == "exact":
            name, ans = prefix + base, {base: [self.cand(DECOY_STATES[0]), self.cand(pname.upper())]}
        elif case == "substring":
            name, ans = prefix + base, {base: [self.cand(pname + " Region")]}
        elif case == "original":
            name = "City of " + base
            ans = {base: [self.cand(DECOY_STATES[0])], name: [self.cand(pname)]}
        elif case == "suffix":
            name, ans = base + " City", {base: [self.cand(pname)]}
        elif case == "three":
            name, ans = "City of " + base + " City", {"City of " + base: [self.cand(pname)]}
        elif case == "decoys":
            name = prefix + base
            ans = {base: [self.cand(DECOY_STATES[0]), self.cand(DECOY_STATES[1])],
                   name: [self.cand(DECOY_STATES[1])]}
        elif case == "nocands":
            name, ans = prefix + base, {}
        else:  # noprov
            name = prefix + base
            ans = {base: [self.cand(self.rng.choice(self.provinces)["name"])]}
        return name, ans

    def make_row(self, case, province, base=None):
        base = base or self.word(3)
        name, ans = self.answer(case, base, province)
        self.table.update(ans)
        region = province["regionCode"] if province else "990000000"
        n = len(self.rows)
        self.rows.append({
            "code": f"{n:09d}", "name": name,
            "oldName": self.word(2, unique=False) if self.rng.random() < 0.02 else None,
            "isCapital": self.rng.random() < 0.3,
            "provinceCode": province["code"] if province else UNKNOWN_PROVINCE,
            "districtCode": "0", "regionCode": region,
            "islandGroupCode": province["islandGroupCode"] if province else "luzon",
            "psgc10DigitCode": f"{n:010d}"})
        self.cases.append((case, province))

    def province_name(self, row):
        return next((p["name"] for p in self.provinces if p["code"] == row["provinceCode"]), None)

    def tally(self, idx):
        """(geocode requests, rows resolved) for refreshing rows `idx`."""
        requests = resolved = 0
        for i in idx:
            row = self.rows[i]
            n, ok = resolve(row["name"], self.province_name(row), self.table)
            assert ok == (self.cases[i][0] in ("isabela", "naga") or CASES[self.cases[i][0]][1]), \
                (row["name"], self.cases[i][0])
            requests += n
            resolved += ok
        return requests, resolved

    def change(self, i):
        """Change row i so a diff sees it; returns the changed fields."""
        row = self.rows[i]
        case, province = self.cases[i]
        kind = self.rng.choice(["oldName", "oldName", "isCapital", "rename"])
        if kind == "rename" and case not in ("isabela", "naga"):
            name, ans = self.answer(case, self.word(3), province)
            self.table.update(ans)
            delta = {"name": name}
        elif kind == "isCapital":
            delta = {"isCapital": not row["isCapital"]}
        else:
            delta = {"oldName": None if row["oldName"] else self.word(2, unique=False)}
        row.update(delta)
        return delta


def generate(seed, locations=400, provinces=82, epochs=48, change_frac=0.03):
    """All inputs of one weather_ticks run, as a JSON-ready dict."""
    g = Generator(seed, locations, provinces)
    cities = [dict(r) for r in g.rows]
    req0, res0 = g.tally(range(len(g.rows)))
    requests, resolved, sets = [req0], [res0], []
    per_epoch = max(1, round(change_frac * locations))
    for _ in range(epochs):
        idx = g.rng.sample(range(len(g.rows)), per_epoch)
        sets.append([{"row": i, "set": g.change(i)} for i in idx])
        req, res = g.tally(idx)
        requests.append(req)
        resolved.append(res)
    total = sum(1 for c, _ in g.cases if c in ("isabela", "naga") or CASES[c][1])
    return {
        "provinces": g.provinces,
        "cities": cities,
        "epochs": sets,
        "geocode": g.table,
        "truth": {"locations": len(g.rows), "resolved": total,
                  "geocode_requests": requests, "geocode_resolved": resolved,
                  "cases": {c: sum(1 for x, _ in g.cases if x == c)
                            for c in list(CASES) + ["isabela", "naga"]}},
    }
