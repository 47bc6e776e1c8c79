"""Summary statistics shared by the runner and its self-tests."""
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def median(values):
    return statistics.median(values)
