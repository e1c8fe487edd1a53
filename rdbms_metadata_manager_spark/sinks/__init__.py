from .report import print_report, write_csv

__all__ = ["print_report", "write_csv"]
