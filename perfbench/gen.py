"""Seeded input generator for the benchmark.

Every value is a pure function of ``(id, seed)`` (splitmix64 over the row
id, like ``graft.sources.CorpusGen``), so the same seed always writes
byte-identical files, whatever order or batch size they are produced in.

Sparkify inputs follow FIXTURES.md section A:

* ``log_data/2018-11-DD-events.json``: 30 daily JSON-lines files.
  About 85% of events are ``NextSong``, about 3.5% are anonymous
  (``userId`` is ``""``), ``ts`` is epoch milliseconds in November 2018,
  ``registration`` is an epoch-ms float that loses precision as a 32-bit
  FLOAT. About 2% of events repeat the previous event's user and ``ts``,
  so the ``users`` self-join keeps ties.
* ``song_data/X/Y/Z/TRXYZ....json``: one JSON object per file in the
  reference's nested layout. Most songs have ``year`` 0, and titles are
  drawn from a pool smaller than the catalog, so the title-only join in
  ``songplays`` fans out. About 40% of played titles are not in the
  catalog, so ``songplays`` also carries NULL ids.

Float fields (``length``, ``duration``, latitude/longitude) are multiples
of 1/32 or 1/64, exact in binary, so Spark and DuckDB parse them to the
same 32-bit value.

``lake_tables`` writes the star-schema and text tables the lake queries
read (``lineitem``, ``orders``, ``documents``, ...), one parquet file each.

Run ``python3 perfbench/gen.py <out_dir> <workload> [seed]`` to write one
workload's inputs by hand.
"""
import json
import os
import sys

import numpy as np

MASK = (1 << 64) - 1
NOV1_2018_MS = 1541030400000
DAY_MS = 86400000
SPAN_MS = 30 * DAY_MS


def _mix_int(z):
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


def _mix(z):
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class Hasher:
    """Independent 64-bit hash streams per (field, seed) over row ids."""

    def __init__(self, seed):
        self.seed = int(seed)

    def raw(self, ids, field):
        key = np.uint64(_mix_int((_mix_int(self.seed) ^ _mix_int(field)) & MASK))
        with np.errstate(over="ignore"):
            return _mix(np.asarray(ids, dtype=np.uint64) ^ key)

    def pick(self, ids, field, n):
        """Uniform int in [0, n) per id."""
        return ((self.raw(ids, field) >> np.uint64(11)) % np.uint64(n)).astype(np.int64)

    def unit(self, ids, field):
        """Uniform float in [0, 1) per id."""
        return (self.raw(ids, field) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


WORDS = ("love night heart fire rain dream blue city road gold river light "
         "shadow summer winter song dance stone wild sky moon star girl boy "
         "home ghost sugar velvet thunder echo paper glass electric silent "
         "golden broken lonely midnight").split()
FIRST = ("Kaylee Lily Ryan Chloe Jacob Tegan Aleena Jayden Mohammad Wyatt "
         "Layla Sara Kate Cienna Jacqueline Avery Matthew Rylan").split()
LAST = ("Summers Koch Smith Cuevas Lynch Levine Kirby Graves Rodriguez Scott "
        "Griffin Johnson Harrell Freeman Lindsey Watkins Jones George").split()
CITIES = ["Phoenix-Mesa-Scottsdale, AZ", "San Jose-Sunnyvale-Santa Clara, CA",
          "Lansing-East Lansing, MI", "Chicago-Naperville-Elgin, IL-IN-WI",
          "Atlanta-Sandy Springs-Roswell, GA", "Waterloo-Cedar Falls, IA",
          "New York-Newark-Jersey City, NY-NJ-PA", "Tampa-St. Petersburg-Clearwater, FL",
          "Portland-South Portland, ME", "Houston-The Woodlands-Sugar Land, TX"]
AGENTS = ['"Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) '
          'Chrome/37.0.2062.103 Safari/537.36"',
          '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) AppleWebKit/537.36 (KHTML, like '
          'Gecko) Chrome/36.0.1985.143 Safari/537.36"',
          "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:31.0) Gecko/20100101 Firefox/31.0",
          '"Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) '
          'Ubuntu Chromium/36.0.1985.125 Chrome/36.0.1985.125 Safari/537.36"']
ANON_PAGES = ["Home", "Login", "About", "Help"]
OTHER_PAGES = ["Home", "Logout", "Settings", "Save Settings", "Downgrade", "Upgrade",
               "Submit Downgrade", "Submit Upgrade", "Error", "Help", "About"]
PUT_PAGES = {"NextSong", "Logout", "Save Settings", "Submit Downgrade", "Submit Upgrade"}
ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

# hash-stream field ids
(F_TIE, F_JIT, F_USER, F_ANON, F_PAGE, F_OTHER, F_FLIP, F_ITEM, F_INCAT,
 F_SONG, F_OOC, F_OOCLEN, F_ULEVEL, F_FIRST, F_LAST, F_GENDER, F_CITY, F_AGENT,
 F_REG, F_ARTIST, F_TITLE, F_DUR, F_YEAR, F_YEARV, F_ALOC, F_LATN, F_LAT, F_LON,
 F_TW, F_CODE) = range(1, 31)


def _code(h, ids, field, prefix, n, alphabet=ALNUM):
    """prefix + n characters of alphabet from 128 hash bits per id."""
    out = []
    for hi, lo in zip(h.raw(ids, field).tolist(), h.raw(ids, field + 1000).tolist()):
        v, chars = (hi << 64) | lo, []
        for _ in range(n):
            v, r = divmod(v, len(alphabet))
            chars.append(alphabet[r])
        out.append(prefix + "".join(chars))
    return out


def _title(h, t):
    ws = [WORDS[int(h.pick([t], F_TW + 100 * j, len(WORDS))[0])] for j in range(3)]
    return f"{ws[0].capitalize()} {ws[1]} {ws[2]}"


class Catalog:
    """Song catalog: song k -> (track, song_id, title, artist, duration, year)."""

    def __init__(self, n_songs, seed):
        h = Hasher(seed)
        ids = np.arange(n_songs)
        self.n = n_songs
        n_artists = max(1, int(n_songs * 0.8))
        n_titles = max(1, int(n_songs * 0.7))
        self.artist = h.pick(ids, F_ARTIST, n_artists)
        self.title_ix = h.pick(ids, F_TITLE, n_titles)
        self.duration = (h.pick(ids, F_DUR, 540 * 32) + 60 * 32) / 32.0
        known = h.unit(ids, F_YEAR) >= 0.6
        self.year = np.where(known, 1961 + h.pick(ids, F_YEARV, 48), 0)
        self.song_id = _code(h, ids, F_CODE, "SO", 16)
        self.track = _code(h, ids, F_CODE + 1, "TR", 3, "ABC")
        self.track = [t + c for t, c in zip(self.track, _code(h, ids, F_CODE + 2, "", 13))]
        aids = np.arange(n_artists)
        self.artist_id = _code(h, aids, F_CODE + 3, "AR", 16)
        self.artist_name = [f"{FIRST[int(a) % len(FIRST)]} and the "
                            f"{WORDS[int(b)].capitalize()}s {i}"
                            for i, (a, b) in enumerate(zip(h.pick(aids, F_FIRST, 997),
                                                           h.pick(aids, F_TW, len(WORDS))))]
        has_loc = h.unit(aids, F_ALOC) >= 0.3
        self.artist_location = [CITIES[int(c)] if k else ""
                                for c, k in zip(h.pick(aids, F_CITY, len(CITIES)), has_loc)]
        has_geo = h.unit(aids, F_LATN) >= 0.6
        lat = (h.pick(aids, F_LAT, 120 * 64) - 60 * 64) / 64.0
        lon = (h.pick(aids, F_LON, 300 * 64) - 150 * 64) / 64.0
        self.lat = [float(a) if g else None for a, g in zip(lat, has_geo)]
        self.lon = [float(o) if g else None for o, g in zip(lon, has_geo)]
        self.titles = [_title(h, t) for t in range(n_titles)]

    def record(self, k):
        a = int(self.artist[k])
        return {"num_songs": 1, "artist_id": self.artist_id[a],
                "artist_latitude": self.lat[a], "artist_longitude": self.lon[a],
                "artist_location": self.artist_location[a],
                "artist_name": self.artist_name[a], "song_id": self.song_id[k],
                "title": self.titles[int(self.title_ix[k])],
                "duration": float(self.duration[k]), "year": int(self.year[k])}


def _users(n_users, seed):
    h = Hasher(seed)
    ids = np.arange(n_users)
    first = h.pick(ids, F_FIRST, len(FIRST))
    last = h.pick(ids, F_LAST, len(LAST))
    gender = h.pick(ids, F_GENDER, 2)
    city = h.pick(ids, F_CITY, len(CITIES))
    agent = h.pick(ids, F_AGENT, len(AGENTS))
    reg = NOV1_2018_MS - 1000 * (h.pick(ids, F_REG, 200 * 86400) + 3600)
    paid = h.pick(ids, F_ULEVEL, 3) == 0
    return [{"firstName": FIRST[int(first[u])], "lastName": LAST[int(last[u])],
             "gender": "FM"[int(gender[u])], "location": CITIES[int(city[u])],
             "userAgent": AGENTS[int(agent[u])], "registration": float(reg[u]),
             "paid": bool(paid[u])} for u in range(n_users)]


def log_events(n_events, n_users, catalog, seed):
    """Yield (day, record) for events 0..n_events-1 in id order."""
    h = Hasher(seed)
    ids = np.arange(n_events)
    step = max(1, SPAN_MS // n_events)
    tie = (h.unit(ids, F_TIE) < 0.02) & (ids > 0)
    src = np.where(tie, ids - 1, ids)
    ts = NOV1_2018_MS + (src * SPAN_MS) // n_events + h.pick(src, F_JIT, step)
    anon = h.unit(src, F_ANON) < 0.035
    user = h.pick(src, F_USER, n_users)
    next_song = h.unit(ids, F_PAGE) < 0.88
    anon_page = h.pick(ids, F_PAGE + 50, len(ANON_PAGES))
    other_page = h.pick(ids, F_OTHER, len(OTHER_PAGES))
    flip = h.unit(ids, F_FLIP) < 0.05
    item = h.pick(ids, F_ITEM, 120)
    in_cat = h.unit(ids, F_INCAT) < 0.6
    song = h.pick(ids, F_SONG, catalog.n)
    ooc = h.pick(ids, F_OOC, 20000)
    ooc_len = (h.pick(ids, F_OOCLEN, 540 * 32) + 60 * 32) / 32.0
    users = _users(n_users, seed)
    for i in range(n_events):
        t = int(ts[i])
        day = (t - NOV1_2018_MS) // DAY_MS
        u = int(user[i])
        if anon[i]:
            page = ANON_PAGES[int(anon_page[i])]
            rec = {"artist": None, "auth": "Logged Out", "firstName": None,
                   "gender": None, "itemInSession": int(item[i]), "lastName": None,
                   "length": None, "level": "free", "location": None,
                   "method": "PUT" if page == "Login" else "GET", "page": page,
                   "registration": None, "sessionId": 1 + (u * 31 + day) % 9973,
                   "song": None, "status": 307 if page == "Login" else 200, "ts": t,
                   "userAgent": None, "userId": ""}
        else:
            p = users[u]
            page = "NextSong" if next_song[i] else OTHER_PAGES[int(other_page[i])]
            artist = title = length = None
            if page == "NextSong":
                if in_cat[i]:
                    s = catalog.record(int(song[i]))
                    artist, title, length = s["artist_name"], s["title"], s["duration"]
                else:
                    artist = f"Artist No. {int(ooc[i]) % 997}"
                    title = f"Track No. {int(ooc[i])}"
                    length = float(ooc_len[i])
            rec = {"artist": artist, "auth": "Logged In", "firstName": p["firstName"],
                   "gender": p["gender"], "itemInSession": int(item[i]),
                   "lastName": p["lastName"], "length": length,
                   "level": "paid" if p["paid"] != bool(flip[i]) else "free",
                   "location": p["location"],
                   "method": "PUT" if page in PUT_PAGES else "GET", "page": page,
                   "registration": p["registration"],
                   "sessionId": 1 + (u * 31 + day) % 9973, "song": title,
                   "status": 404 if page == "Error" else
                   307 if page in ("Logout", "Submit Downgrade", "Submit Upgrade") else 200,
                   "ts": t, "userAgent": p["userAgent"], "userId": str(u + 1)}
        yield day, rec


def write_sparkify(out_dir, n_events, n_songs, seed):
    """Write log_data/ and song_data/ under out_dir; return input stats."""
    catalog = Catalog(n_songs, seed)
    log_dir = os.path.join(out_dir, "log_data")
    song_dir = os.path.join(out_dir, "song_data")
    os.makedirs(log_dir, exist_ok=True)
    n_users = 100 + n_events // 500
    days = {}
    for day, rec in log_events(n_events, n_users, catalog, seed):
        days.setdefault(day, []).append(json.dumps(rec, separators=(",", ":")))
    for day in range(30):
        path = os.path.join(log_dir, f"2018-11-{day + 1:02d}-events.json")
        with open(path, "w") as f:
            lines = days.get(day, [])
            f.write("\n".join(lines) + ("\n" if lines else ""))
    for k in range(n_songs):
        tr = catalog.track[k]
        d = os.path.join(song_dir, tr[2], tr[3], tr[4])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, tr + ".json"), "w") as f:
            f.write(json.dumps(catalog.record(k)))
    return {"log_records": n_events, "song_records": n_songs,
            "input_files": 30 + n_songs, "input_bytes": dir_bytes(out_dir)}


DOC_VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
             "query window data column join line customer group big vector the a "
             "order filter small sort stream dup").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = "small blue cold old new hot red big".split()
PART_NOUN = "widget rod ring anvil plate bolt gear".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86400 * 10 ** 6
EPOCH_1995_US = 788918400 * 10 ** 6


def lake_tables(out_dir, sizes, seed):
    """Write the star-schema and documents tables (one parquet file each) in
    the shape of the repository's synthetic test corpus; return input stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = Hasher(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_line, n_doc = sizes["orders"], sizes["lineitem"], sizes["documents"]

    def cents(ids, field, lo, hi):
        return (lo * 100 + h.pick(ids, field, (hi - lo) * 100)) / 100.0

    def ts(days):
        return pa.array(EPOCH_1995_US + days.astype(np.int64) * DAY_US, pa.timestamp("us"))

    i32, i64 = pa.int32(), pa.int64()
    c, s, p, o, li, d = (np.arange(n) for n in (n_cust, n_supp, n_part, n_ord, n_line, n_doc))
    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array([k % 5 for k in range(25)], i32)},
        "customer": {"c_custkey": pa.array(c, i64),
                     "c_name": [f"Customer#{k:09d}" for k in c],
                     "c_nationkey": pa.array(h.pick(c, 101, 25), i32),
                     "c_acctbal": cents(c, 102, -999, 9999),
                     "c_mktsegment": [SEGMENTS[k] for k in h.pick(c, 103, 5)]},
        "supplier": {"s_suppkey": pa.array(s, i64),
                     "s_name": [f"Supplier#{k:09d}" for k in s],
                     "s_nationkey": pa.array(h.pick(s, 111, 25), i32),
                     "s_acctbal": cents(s, 112, -999, 9999)},
        "part": {"p_partkey": pa.array(p, i64),
                 "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(h.pick(p, 121, len(PART_ADJ)), h.pick(p, 122, len(PART_NOUN)))],
                 "p_brand": [f"Brand#{k + 1}" for k in h.pick(p, 123, 25)],
                 "p_type": [PART_TYPES[k] for k in h.pick(p, 124, len(PART_TYPES))],
                 "p_size": pa.array(1 + h.pick(p, 125, 50), i32),
                 "p_retailprice": (9000 + p % 2000) / 10.0},
        "orders": {"o_orderkey": pa.array(o, i64),
                   "o_custkey": pa.array(h.pick(o, 131, n_cust), i64),
                   "o_orderstatus": ["FOP"[k] for k in h.pick(o, 132, 3)],
                   "o_totalprice": cents(o, 133, 1000, 400000),
                   "o_orderdate": ts(h.pick(o, 134, 2404)),
                   "o_orderpriority": [PRIORITIES[k] for k in h.pick(o, 135, 5)]},
        "lineitem": {"l_orderkey": pa.array(h.pick(li, 141, n_ord), i64),
                     "l_partkey": pa.array(h.pick(li, 142, n_part), i64),
                     "l_suppkey": pa.array(h.pick(li, 143, n_supp), i64),
                     "l_linenumber": pa.array(1 + h.pick(li, 144, 7), i32),
                     "l_quantity": (1 + h.pick(li, 145, 50)).astype(np.float64),
                     "l_extendedprice": cents(li, 146, 900, 100000),
                     "l_discount": h.pick(li, 147, 11) / 100.0,
                     "l_tax": h.pick(li, 148, 9) / 100.0,
                     "l_returnflag": ["ANR"[k] for k in h.pick(li, 149, 3)],
                     "l_linestatus": ["FO"[k] for k in h.pick(li, 150, 2)],
                     "l_shipdate": ts(1 + h.pick(li, 151, 2500))},
    }
    # documents: 20-119 vocabulary words; about 5% copy an earlier document
    # exactly and about 10% copy one with a single word replaced
    texts = []
    n_words = 20 + h.pick(d, 161, 100)
    copy_kind = h.unit(d, 162)
    copy_of = h.pick(d, 163, max(1, n_doc))
    for k in d:
        if k > 0 and copy_kind[k] < 0.15:
            words = texts[int(copy_of[k]) % k].split()
            if copy_kind[k] >= 0.05:
                j = int(h.pick([k], 164, len(words))[0])
                words[j] = DOC_VOCAB[int(h.pick([k], 165, len(DOC_VOCAB))[0])]
        else:
            words = [DOC_VOCAB[w] for w in h.pick(np.arange(n_words[k]) + (k << 8), 166,
                                                  len(DOC_VOCAB))]
        texts.append(" ".join(words))
    tables["documents"] = {"doc_id": pa.array(d, i64), "text": texts,
                           "lang": [("en", "en", "zh", "de", "fr", "es")[k]
                                    for k in h.pick(d, 167, 6)],
                           "source": [f"src{k % 20}" for k in d],
                           "n_chars": pa.array([len(t) for t in texts], i64)}
    rows = 0
    for name, cols in tables.items():
        t = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows += t.num_rows
    return {"rows": rows, "tables": len(tables), "input_bytes": dir_bytes(out_dir)}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(workload, out_dir, seed):
    """Write the inputs of one workload entry of config.json."""
    sizes = workload["inputs"]
    if workload["mode"] == "etl":
        return write_sparkify(out_dir, sizes["log_records"], sizes["song_records"], seed)
    return lake_tables(out_dir, sizes, seed)


if __name__ == "__main__":
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "config.json")) as f:
        config = json.load(f)
    out, name = sys.argv[1], sys.argv[2]
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    print(json.dumps(generate(config["workloads"][name], out, seed)))
