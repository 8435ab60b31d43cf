"""Seeded generator for a steel-readings CSV with the shape of the paper's
dataset: 35,040 rows of 15-minute readings for 2018, the raw header (with
its `.` and `()`), a UTF-8 BOM, and the fixed category counts.

Usage_kWh is a known linear function of the stored features plus uniform
noise, so the R2 that an ordinary least-squares fit must reach is known:
`implied_r2` is 1 - var(noise) / var(Usage_kWh) over the generated rows.
"""
import datetime
import random

HEADER = ("date,Usage_kWh,Lagging_Current_Reactive.Power_kVarh,"
          "Leading_Current_Reactive_Power_kVarh,CO2(tCO2),"
          "Lagging_Current_Power_Factor,Leading_Current_Power_Factor,NSM,"
          "WeekStatus,Day_of_week,Load_Type")
ROWS = 35040
LOAD_COUNTS = (("Light_Load", 18072), ("Medium_Load", 9696), ("Maximum_Load", 7272))
# StringIndexer's frequencyDesc index of each category; the linear model
# uses these ordinals, so LinearRegression can represent it exactly.
LOAD_INDEX = {"Light_Load": 0, "Medium_Load": 1, "Maximum_Load": 2}
NOISE = 3.5  # half-width of the uniform noise on Usage_kWh


def _clip(v, lo, hi):
    return min(max(v, lo), hi)


def generate(path, seed):
    """Write the CSV to `path`; return the implied R2 of the linear model."""
    rnd = random.Random(seed)
    loads = [name for name, n in LOAD_COUNTS for _ in range(n)]
    rnd.shuffle(loads)
    start = datetime.date(2018, 1, 1)
    rows, usage, noise = [], [], []
    for i in range(ROWS):
        day = start + datetime.timedelta(days=i // 96)
        nsm = ((i % 96) + 1) * 900 % 86400
        stamp = f"{day:%d/%m/%Y} {nsm // 3600:02d}:{nsm // 60 % 60:02d}"
        weekend = day.weekday() >= 5
        lag_rp = round(_clip(rnd.gammavariate(1.2, 10.9), 0, 96.91), 2)
        lead_rp = round(_clip(rnd.expovariate(1 / 3.87), 0, 27.76), 2)
        co2 = round(_clip(rnd.gammavariate(1.5, 0.008), 0, 0.07), 2)
        lag_pf = round(_clip(100 - rnd.expovariate(1 / 19.42), 0, 100), 2)
        lead_pf = round(_clip(100 - rnd.expovariate(1 / 15.63), 0, 100), 2)
        e = rnd.uniform(-NOISE, NOISE)
        y = (6.0 + 1.05 * lag_rp + 0.35 * lead_rp + 250.0 * co2 + 0.03 * lag_pf
             + 6.0 * LOAD_INDEX[loads[i]] - 2.0 * weekend + e)
        y = round(y, 2)
        usage.append(y)
        noise.append(e)
        rows.append(f"{stamp},{y},{lag_rp},{lead_rp},{co2},{lag_pf},{lead_pf},{nsm},"
                    f"{'Weekend' if weekend else 'Weekday'},{day:%A},{loads[i]}")
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\ufeff" + HEADER + "\n")
        f.write("\n".join(rows) + "\n")
    return 1.0 - _var(noise) / _var(usage)


def _var(xs):
    m = sum(xs) / len(xs)
    return sum((x - m) ** 2 for x in xs) / len(xs)
