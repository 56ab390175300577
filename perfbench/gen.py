"""Seeded input generator for the etl_daily workload.

`listings` writes the raw property-listing TSVs the daily ETL consumes
(FIXTURES.md §B edge rows at volume) and returns, next to the files, the
generator's own model of what the reference's transform rules keep, so
the sink can be checked without running the program's code.
"""
import datetime
import functools
import os
import unicodedata

import numpy as np

# ---- raw property listings (the daily ETL's input) -------------------------

NBSP = " "
HEADER = "purpose\taddress\tsize_m2\tdesign\tprice_czk\tlink"
SALE = ["Prodej bytu", "Prodej domu", "Prodej garáže", "Prodej chaty, chalupy"]
RENT = ["Pronájem kanceláře", "Pronájem domu", "Pronájem nebytového prostoru"]
FLAT_RENT = "Pronájem bytu"  # in neither keyword list: no sanity floor
LAND = "Prodej pozemku"
REGIONS = ["Středočeský kraj", "Jihočeský kraj", "Plzeňský kraj",
           "Karlovarský kraj", "Ústecký kraj", "Liberecký kraj",
           "Královéhradecký kraj", "Pardubický kraj", "Kraj Vysočina",
           "Jihomoravský kraj", "Olomoucký kraj", "Zlínský kraj",
           "Moravskoslezský kraj"]
FOREIGN = ["Bavorský kraj", "Žilinský kraj", "Dolnoslezský kraj"]
TOWNS = ["Brno", "Jihlava", "Kolín", "Tábor", "Písek", "Třebíč", "Žďár",
         "Olomouc", "Zlín", "Ostrava", "Děčín", "Cheb", "Liberec"]
STREETS = ["Vinohradská", "Husova", "Nádražní", "Masarykova", "Školní",
           "Zahradní", "Palackého", "Žižkova", "Polní", "Lidická"]
DESIGNS = ["1+kk", "2+kk", "2+1", "3+kk", "3+1", "4+1", "atypický"]
FILE_SHARES = (1, 2, 4)  # a day's files are of unequal size
SHARE_SUM = sum(FILE_SHARES)


def _czk(n):
    return f"{n:,}".replace(",", NBSP) + " Kč"


def day_stamp(day):
    """dump_date of day `day`, in the pipeline's yyyy_MM_dd_HHmmss form."""
    t = datetime.datetime(2024, 3, 1, 6, 0, 0) + datetime.timedelta(days=day)
    return t.strftime("%Y_%m_%d_%H%M%S")


def _pick(rng, options, n):
    return np.array(options, dtype=object)[rng.integers(0, len(options), n)]


def _rows(rng, links):
    """One file's listings: a drawn kind per row decides which edge of the
    reference's rules it exercises."""
    n = len(links)
    kind = rng.random(n)
    town, street = _pick(rng, TOWNS, n), _pick(rng, STREETS, n)
    number = rng.integers(1, 200, n)
    region, foreign = _pick(rng, REGIONS, n), _pick(rng, FOREIGN, n)
    nbsp = rng.random(n) < 0.2
    sale, rent = _pick(rng, SALE, n), _pick(rng, RENT, n)
    design = _pick(rng, DESIGNS, n)
    size = rng.integers(20, 250, n)
    land_size, tiny = rng.integers(300, 3000, n), rng.integers(5, 20, n)
    price = rng.integers(1_000_000, 15_000_000, n)
    rent_price, flat_price = rng.integers(2_000, 90_000, n), rng.integers(600, 40_000, n)
    land_ppm2, cap_ppm2 = rng.integers(200, 9000, n), rng.integers(80_001, 200_000, n)
    eur, low = rng.integers(50, 900, n) * 1000, rng.integers(0, 500, n)
    rent_trip, sale_trip = rng.integers(500, 1001, n), rng.integers(500, 20_001, n)
    district = rng.integers(1, 11, n)
    empty_size = rng.random(n) < 0.06
    rows = []
    for i in range(n):
        st = f"{street[i]} {number[i]}"
        address = f"{st},{NBSP if nbsp[i] else ' '}{town[i]}, {region[i]}"
        purpose, sz, pr, ds, money = sale[i], int(size[i]), int(price[i]), design[i], None
        r = kind[i]
        if r < 0.15:
            address = f"{st}, Praha {district[i]}"             # no "kraj": Praha
        elif r < 0.25:
            purpose, pr = rent[i], int(rent_price[i])
        elif r < 0.32:
            purpose, pr = FLAT_RENT, int(flat_price[i])
        elif r < 0.40:
            purpose, sz = LAND, int(land_size[i])
            pr = sz * int(land_ppm2[i])
        elif r < 0.43:
            purpose, sz = LAND, int(tiny[i])                     # land cap trip
            pr = sz * int(cap_ppm2[i])
        elif r < 0.46:
            money = f"{eur[i]} EUR"                             # Slovak listing
        elif r < 0.49:
            pr = int(low[i])                                    # below the floor
        elif r < 0.52:
            purpose, pr = rent[i], int(rent_trip[i])            # rent sanity trip
        elif r < 0.55:
            pr = int(sale_trip[i])                              # sale sanity trip
        elif r < 0.58:
            address = f"{st}, {town[i]}, {foreign[i]}"          # outside the whitelist
        elif r < 0.60:
            ds = f"{ds}\npo rekonstrukci"                        # quoted multi-line
        rows.append((purpose, address, "" if empty_size[i] else f"{sz} m2", ds,
                     money or _czk(pr), links[i]))
    return rows


def _cell(v):
    return f'"{v}"' if "\n" in v else v


def listings(land_dir, days, rows_per_day, seed, first_day=0):
    """Write `days` days of raw listing files, each day split over three
    files of unequal size, under land_dir/<day>/. Returns
    {day: [(file_name, rows)]}; rows are the raw string tuples.

    Edges, at volume: NBSP separators, Czech diacritics, EUR prices, prices
    below the floor, rent/sale sanity trips, the land price-per-m2 cap,
    regions outside the whitelist, empty sizes, exact duplicate rows inside
    one file, quoted multi-line values, and links listed again on a later
    day (a different batch, so both rows stay)."""
    rng = np.random.default_rng(seed)
    out, seen = {}, []
    for day in range(first_day, first_day + days):
        ddir = os.path.join(land_dir, str(day))
        os.makedirs(ddir, exist_ok=True)
        files, fresh = [], []
        for k, share in enumerate(FILE_SHARES):
            n = rows_per_day * share // SHARE_SUM
            relist = rng.random(n) < (0.02 if seen else 0.0)
            ids = rng.integers(0, 1 << 30, n)
            links = [seen[rng.integers(len(seen))] if relist[i]
                     else f"/nemovitosti-byty-domy/{day}-{k}-{i}-{ids[i]}" for i in range(n)]
            fresh += [l for l in links if l.startswith(f"/nemovitosti-byty-domy/{day}-")]
            rows = _rows(rng, links)
            # exact duplicates of earlier rows of the same file
            for i in np.nonzero(rng.random(n) < 0.04)[0]:
                if i:
                    rows[i] = rows[rng.integers(0, i)]
            name = f"raw_properties_{day_stamp(day)}_{k}.csv"
            with open(os.path.join(ddir, name), "w", encoding="utf-8") as f:
                f.write(HEADER + "\n")
                f.writelines("\t".join(_cell(v) for v in row) + "\n" for row in rows)
            files.append((name, rows))
        out[day] = files
        seen += fresh
    return out


# ---- the generator's own model of the reference transform rules ----------

RENT_KW = ["Pronajem kancelare", "Pronajem nebytoveho prostoru",
           "Pronajem chaty, chalupy", "Pronajem domu", "Pronajem pozemku"]
SALE_KW = ["Prodej bytu", "Prodej domu", "Prodej nebytoveho prostoru",
           "Prodej pozemku", "Prodej chaty, chalupy", "Prodej garaze",
           "Prodej kancelare"]
WHITELIST = {"Praha"} | {unicodedata.normalize("NFD", r).encode("ascii", "ignore").decode()
                         for r in REGIONS}


@functools.lru_cache(maxsize=None)
def _ascii(s):
    return "".join(c for c in unicodedata.normalize("NFD", s)
                   if unicodedata.category(c) not in ("Mn", "Mc", "Me"))


def _digits(s):
    return "".join(c for c in s if "0" <= c <= "9")


def expected(rows):
    """The rows one file should leave in the sink, as
    (link, region, price_czk, price_per_m2 or None), following the
    reference's transform (scripts/transform.py:24-120) written out
    independently of the program: transliterate, dedup on link, NBSP,
    currency, floor, rent/sale sanity, size, region, whitelist, price per
    m2, land cap."""
    kept, links = [], set()
    for row in rows:
        purpose, address, size_s, _, price_s, link = (_ascii(v) for v in row)
        if link in links:
            continue
        links.add(link)
        purpose, address = purpose.replace(NBSP, " "), address.replace(NBSP, " ")
        price_s, size_s = price_s.replace(NBSP, " "), size_s.replace(NBSP, " ")
        if "EUR" in price_s or not _digits(price_s):
            continue
        price = int(_digits(price_s))
        if price < 500:
            continue
        if any(k in purpose for k in RENT_KW) and price <= 1000:
            continue
        if any(k in purpose for k in SALE_KW) and price <= 20000:
            continue
        size = int(_digits(size_s.replace("m2", "")) or 0)
        region = "Praha"
        if "kraj" in address.lower():
            words = address.strip(" ").split()
            region = " ".join(words[-2:]).rstrip(",")
        if region not in WHITELIST:
            continue
        ppm2 = -(-price // size) if size else None
        if "Prodej pozemku" in purpose and ppm2 is not None and ppm2 > 80000:
            continue
        kept.append((link, region, price, ppm2))
    return kept
