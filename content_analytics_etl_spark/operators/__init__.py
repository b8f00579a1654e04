from .recode import recode_category
from .profile import category_profile, count_devices, pivot_profile
from .olap import argmax_label, taste_label, bucketize

__all__ = [
    "recode_category",
    "category_profile",
    "count_devices",
    "pivot_profile",
    "argmax_label",
    "taste_label",
    "bucketize",
]
